"""Zoom pipeline: raw meetings/participants JSON -> meetings / records /
participants tables (reference: zoom_proc.py).

Output contracts match the reference's selects/DDL:
- meetings: 13 meet_* columns (zoom_proc.py:384-398)
- records: meet_uuid, meet_id + 11 rec_* columns (zoom_proc.py:407-425)
- participants: meeting_uuid + 34 participant fields (DDL names,
  zoom_proc.py:437-476). The reference's dataframe actually carries a
  spurious ``col_`` prefix from its default flat_df naming plus a
  create_map/explode detour (zoom_proc.py:181-190); we flatten the
  participants array directly and use the DDL's clean names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.casts import array_to_csv, to_ts_iso_z
from ..io import read_json
from ..operators.nested import explode_into, flatten, quote_ident
from . import schemas

MEETINGS_COLS = [
    "meet_account_id", "meet_duration", "meet_host_email", "meet_host_id",
    "meet_id", "meet_recording_count", "meet_share_url", "meet_start_time",
    "meet_timezone", "meet_topic", "meet_total_size", "meet_type", "meet_uuid",
]

RECORDS_COLS = [
    "meet_uuid", "meet_id", "rec_download_url", "rec_file_extension",
    "rec_file_size", "rec_file_type", "rec_id", "rec_meeting_id",
    "rec_play_url", "rec_recording_end", "rec_recording_start",
    "rec_recording_type", "rec_status",
]

PARTICIPANT_FIELDS = [
    "camera", "connection_type", "customer_key", "data_center", "device",
    "domain", "email", "from_sip_uri", "full_data_center", "harddisk_id",
    "id", "internal_ip_addresses", "ip_address", "join_time", "leave_reason",
    "leave_time", "location", "mac_addr", "microphone", "network_type",
    "participant_user_id", "pc_name", "recording", "registrant_id", "role",
    "share_application", "share_desktop", "share_whiteboard", "sip_uri",
    "speaker", "status", "user_id", "user_name", "version",
]


def meetings_table(spark: SparkSession, path: str) -> DataFrame | None:
    """meetings: explode + flatten + ISO-Z timestamp (zoom_proc.py:130-150).

    Reproduces the reference's no-data gate (sum(total_records) > 0 ->
    None, zoom_proc.py:137-138) with a single cheap aggregate."""
    raw = read_json(spark, path, schema=schemas.ZOOM_MEETINGS)
    total = raw.agg(F.sum("total_records")).first()[0]
    if not total:
        return None
    meet = explode_into(raw, "meetings", alias="meet")
    flat = flatten(meet)
    flat = flat.withColumn("meet_start_time", to_ts_iso_z("meet_start_time"))
    return flat


def zoom_tables(
    spark: SparkSession,
    meetings_path: str,
    participants_path: str,
    history: bool = False,
) -> dict[str, DataFrame]:
    """``history=True`` reproduces zoom_proc_hst.py: every output table
    carries a ``load_datetime`` audit column (zoom_proc_hst.py:145-148,
    172-175, 212-215) and is intended for append-mode hst_* sinks; the
    current-state view is operators.scale.latest_snapshot."""
    out: dict[str, DataFrame] = {}
    flat = meetings_table(spark, meetings_path)
    if flat is not None:
        # meetings and records share one lineage; persist before fan-out
        # (the reference recomputes the scan per sink — SURVEY.md §4)
        flat = flat.persist()
        out["meetings"] = flat.selectExpr(*map(quote_ident, MEETINGS_COLS))
        rec = explode_into(
            flat, "meet_recording_files", carry=["meet_uuid", "meet_id"], alias="rec"
        )
        rec = flatten(rec)
        rec = rec.withColumn(
            "rec_recording_start", to_ts_iso_z("rec_recording_start")
        ).withColumn("rec_recording_end", to_ts_iso_z("rec_recording_end"))
        out["records"] = rec.selectExpr(*map(quote_ident, RECORDS_COLS))

    praw = read_json(spark, participants_path, schema=schemas.ZOOM_PARTICIPANTS)
    pts = explode_into(
        praw, "participants_data.participants", carry=["uuid"], alias="p"
    )
    pts = flatten(pts.selectExpr("uuid AS meeting_uuid", "p"), prefix="")
    # flatten gives p_<field>; strip to the DDL names
    pts = pts.selectExpr(
        "meeting_uuid",
        *[f"{quote_ident('p_' + f)} AS {quote_ident(f)}" for f in PARTICIPANT_FIELDS],
    )
    pts = (
        pts.withColumn("join_time", to_ts_iso_z("join_time"))
        .withColumn("leave_time", to_ts_iso_z("leave_time"))
        .withColumn("internal_ip_addresses", array_to_csv("internal_ip_addresses"))
    )
    out["participants"] = pts
    if history:
        out = {
            name: df.withColumn("load_datetime", F.current_timestamp())
            for name, df in out.items()
        }
    return out
