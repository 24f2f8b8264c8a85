"""Reference-parity pipelines over synthesized Family-B fixtures
(FIXTURES.md). Pins the output-table contracts (names + columns from the
reference DDL) and the flagged edge cases: no-data gate, empty arrays,
missing optional fields, epoch timestamps, malformed log lines, unicode.
"""

import datetime as dt
import json

import pytest

from datalake_scripts_spark.plans import jhub, monkey, vk, zoom


@pytest.fixture(scope="module")
def fixdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawjson")

    def w(name, obj):
        p = d / name
        p.parent.mkdir(parents=True, exist_ok=True)
        # one JSON document per line (the reference's landing format)
        p.write_text(
            "\n".join(json.dumps(o, ensure_ascii=False) for o in obj)
            if isinstance(obj, list) and name.startswith(("jhub", "vk"))
            else json.dumps(obj, ensure_ascii=False)
        )
        return str(p)

    # --- zoom meetings (B1): 2 meetings, one with 2 recordings, one with 0
    rec = {
        "download_url": "https://dl/1", "file_extension": "MP4",
        "file_size": 1000, "file_type": "MP4", "id": "r-1",
        "meeting_id": "m-uuid-1", "play_url": "https://play/1",
        "recording_start": "2023-05-01T10:00:00Z",
        "recording_end": "2023-05-01T11:00:00Z",
        "recording_type": "shared_screen", "status": "completed",
    }
    w("zoom/meetings_logs_1.json", {
        "from": "2023-05-01", "to": "2023-05-02", "page_size": 300,
        "total_records": 2,
        "meetings": [
            {"account_id": "acc1", "duration": 60, "host_email": "h@x.io",
             "host_id": "h1", "id": 111, "recording_count": 2,
             "share_url": "https://share/1",
             "start_time": "2023-05-01T09:00:00Z", "timezone": "UTC",
             "topic": "Лекция 1", "total_size": 2000, "type": 2,
             "uuid": "m-uuid-1",
             "recording_files": [rec, {**rec, "id": "r-2"}]},
            {"account_id": "acc1", "duration": 30, "host_email": "h2@x.io",
             "host_id": "h2", "id": 222, "recording_count": 0,
             "share_url": None, "start_time": "2023-05-02T09:00:00Z",
             "timezone": "UTC", "topic": "Seminar", "total_size": 0,
             "type": 2, "uuid": "m-uuid-2", "recording_files": []},
        ],
    })
    # ⚠ no-data file (gate) — lives in its own dir so it can be read alone
    w("zoom_empty/meetings_logs_0.json", {
        "from": "2023-04-30", "to": "2023-04-30", "page_size": 300,
        "total_records": 0, "meetings": [],
    })
    # zoom participants (B2) with 0/1/2-element ip arrays
    def participant(pid, ips):
        return {
            "camera": "FaceTime", "connection_type": "SSL", "customer_key": None,
            "data_center": "EU", "device": "Mac", "domain": "x.io",
            "email": f"{pid}@x.io", "from_sip_uri": None, "full_data_center": "EU",
            "harddisk_id": None, "id": pid, "internal_ip_addresses": ips,
            "ip_address": "10.0.0.9", "join_time": "2023-05-01T09:01:00Z",
            "leave_time": "2023-05-01T09:59:00Z", "leave_reason": "left",
            "location": "SPb", "mac_addr": None, "microphone": "Built-in",
            "network_type": "Wifi", "participant_user_id": pid, "pc_name": "mac",
            "recording": False, "registrant_id": None, "role": "host",
            "share_application": False, "share_desktop": True,
            "share_whiteboard": False, "sip_uri": None, "speaker": "Built-in",
            "status": "in_meeting", "user_id": "123456789",
            "user_name": "Пользователь", "version": "5.0",
        }
    w("zoom/participants_1.json", {
        "uuid": "m-uuid-1",
        "participants_data": {
            "page_count": 1, "page_size": 300, "total_records": 3,
            "participants": [
                participant("p1", []),
                participant("p2", ["10.0.0.1"]),
                participant("p3", ["10.0.0.1", "10.0.0.2"]),
            ],
        },
    })

    # --- monkey survey details (B3): multi-heading question + empty questions page
    w("monkey/survey_100.json", {
        "id": "100", "title": "Обратная связь", "language": "ru",
        "folder_id": 7, "page_count": 2, "question_count": 2,
        "response_count": 1, "href": "https://api/100",
        "date_created": "2021-12-26T10:40:00",
        "date_modified": "2021-12-27T11:00:00",
        "pages": [
            {"id": 10, "position": 1, "question_count": 2, "title": "P1",
             "questions": [
                 {"id": 1001, "position": 1,
                  "headings": [
                      {"heading": "H-one", "choices": [
                          {"id": 5001, "is_na": False, "position": 1,
                           "quiz_options": {"score": "1"}, "text": "Да",
                           "visible": True, "weight": 10},
                          {"id": 5002, "is_na": True, "position": 2,
                           "quiz_options": None, "text": "Нет",
                           "visible": True, "weight": 0}]},
                      {"heading": "H-two", "choices": []},  # ⚠ fan-out + empty
                  ],
                  "answers": {"other_id": None}},
                 {"id": 1002, "position": 2,
                  "headings": [{"heading": "H-three", "choices": []}],
                  "answers": None},
             ]},
            {"id": 11, "position": 2, "question_count": 0, "title": "P-empty",
             "questions": []},  # ⚠ explode drops this page
        ],
    })
    # monkey responses (B4)
    w("monkey/responses_100.json", {
        "per_page": 100, "total": 1, "links": {"self": "https://api/r"},
        "data": [
            {"id": 900, "survey_id": 100, "recipient_id": 77,
             "date_created": "2021-12-28T09:00:00",
             "date_modified": "2021-12-28T09:05:00",
             "email_address": "u@x.io", "ip_address": "1.2.3.4",
             "first_name": "Ivan", "last_name": "Ivanov",
             "response_status": "completed", "total_time": 321,
             "pages": [
                 {"id": 10, "questions": [
                     {"id": 1001, "answers": [
                         {"choice_id": 5001, "row_id": None, "text": None,
                          "choices": {"weight": 10}},
                         {"choice_id": None, "row_id": 1, "text": "свободный ответ",
                          "choices": None}]}]}]},
        ],
    })

    # --- vk group (B5): one JSON array file (2 groups; one without links)
    w("vk/gsom_ma.json", [
        {"id": 123, "type": "page", "name": "Группа", "screen_name": "grp",
         "activity": "Education", "description": "desc", "is_closed": 0,
         "members_count": 500, "status": "ok", "verified": 1,
         "site": "https://x.io", "wiki_page": None,
         "city": {"id": 2, "title": "Санкт-Петербург"},
         "country": {"id": 1, "title": "Россия"},
         "contacts": [{"desc": "admin", "email": "a@x.io", "phone": "+7"}],
         "links": [{"id": 1, "name": "L", "desc": "d", "url": "https://l"}]},
        {"id": 456, "type": "group", "name": "G2", "screen_name": "g2",
         "activity": None, "description": None, "is_closed": 1,
         "members_count": 5, "status": None, "verified": 0,
         "site": None, "wiki_page": None,
         "city": None, "country": {"id": 1, "title": "Россия"},
         "contacts": [], "links": []},
    ])
    # vk members (B6): epoch last_seen; one member with career/schools/universities
    w("vk/members_full_group_123.json", [
        {"id": 11, "first_name": "Анна", "last_name": "Петрова",
         "maiden_name": None, "screen_name": "anna", "nickname": None,
         "sex": 1, "city": {"id": 2, "title": "СПб"},
         "country": {"id": 1, "title": "Россия"}, "home_town": "СПб",
         "about": None, "activities": None, "books": None, "can_post": 1,
         "deactivated": None, "domain": "anna", "followers_count": 10,
         "friend_status": 0, "games": None, "interests": None,
         "is_closed": False, "is_friend": 0, "personal": None,
         "site": None, "skype": None, "livejournal": None, "twitter": None,
         "has_mobile": 1, "mobile_phone": None, "home_phone": None,
         "status": None, "relation": 0,
         "relation_partner": None,
         "education": {"form": "Full-time", "status": "Student"},
         "faculty": 5, "faculty_name": "GSOM", "graduation": 2024,
         "university": 9, "university_name": "SPbU",
         "occupation": {"id": 9, "name": "SPbU", "type": "university"},
         "movies": None, "music": None, "trending": 0, "tv": None,
         "verified": 0, "wall_default": "all",
         "last_seen": {"platform": 7, "time": 1682936430},
         "career": [{"city_id": 2, "country_id": 1, "company": "X",
                     "group_id": None, "position": "analyst",
                     "from": 2020, "until": 2022}],
         "schools": [{"city": 2, "class": "A", "country": 1, "id": "s1",
                      "name": "School 1", "speciality": None, "type": 1,
                      "type_str": "gymnasium", "year_from": 2008,
                      "year_graduated": 2018, "year_to": 2018}],
         "universities": [{"chair": 1, "chair_name": "Finance", "city": 2,
                           "country": 1, "education_form": "Full-time",
                           "education_status": "Student", "faculty": 5,
                           "faculty_name": "GSOM", "graduation": 2024,
                           "id": 9, "name": "SPbU"}]},
        {"id": 12, "first_name": "Пётр", "last_name": "Сидоров",
         "maiden_name": None, "screen_name": None, "nickname": None,
         "sex": 2, "city": None, "country": None, "home_town": None,
         "about": None, "activities": None, "books": None, "can_post": 0,
         "deactivated": "banned", "domain": None, "followers_count": 0,
         "friend_status": 0, "games": None, "interests": None,
         "is_closed": True, "is_friend": 0, "personal": None, "site": None,
         "skype": None, "livejournal": None, "twitter": None,
         "has_mobile": 0, "mobile_phone": None, "home_phone": None,
         "status": None, "relation": 0, "relation_partner": None,
         "education": None, "faculty": None, "faculty_name": None,
         "graduation": None, "university": None, "university_name": None,
         "occupation": None, "movies": None, "music": None, "trending": 0,
         "tv": None, "verified": 0, "wall_default": None,
         "last_seen": None, "career": [], "schools": [], "universities": []},
    ])
    # vk wall (B7): items with and without copy_history, epoch dates
    w("vk/wall_owner_id_-123.json", {
        "count": 2,
        "items": [
            {"owner_id": -123, "from_id": -123, "id": 1, "date": 1682936430,
             "edited": 1682936500, "post_type": "post", "text": "Привет",
             "comments": {"count": 3}, "donut": {"is_donut": False},
             "likes": {"count": 10, "user_likes": 0},
             "post_source": {"type": "api", "platform": "android"},
             "reposts": {"count": 1, "user_reposted": 0},
             "views": {"count": 100},
             "copy_history": [
                 {"id": 7, "from_id": -9, "owner_id": -9, "date": 1682000000,
                  "post_type": "post", "text": "репост",
                  "post_source": {"platform": "web", "type": "vk"}}]},
            {"owner_id": -123, "from_id": 11, "id": 2, "date": 1682937000,
             "edited": None, "post_type": "post", "text": "no history",
             "comments": {"count": 0}, "donut": {"is_donut": False},
             "likes": {"count": 0, "user_likes": 0},
             "post_source": {"type": "vk", "platform": None},
             "reposts": {"count": 0, "user_reposted": 0},
             "views": {"count": 5}, "copy_history": None},
        ],
    })

    # --- jhub logs (B8): JSON-lines, well-formed + malformed
    w("jhub/part0.jsonl", [
        {"time": "2023-05-01T10:00:00.123456789Z",
         "log": "[I 2023-05-01 10:00:00.123 JupyterHub app:123] user login",
         "kubernetes": {"container_name": "hub", "host": "node1",
                        "pod_name": "hub-0", "annotations": {"a": "1"},
                        "labels": {"l": "2"}}},
        {"time": "2023-05-01T10:00:01.000000000Z",
         "log": "plain line no brackets",
         "kubernetes": {"container_name": "hub", "host": "node1",
                        "pod_name": "hub-0", "annotations": None,
                        "labels": None}},
    ])
    return d


def test_zoom_tables(spark, fixdir):
    out = zoom.zoom_tables(
        spark, f"{fixdir}/zoom/meetings_logs_*.json", f"{fixdir}/zoom/participants_*.json"
    )
    assert set(out) == {"meetings", "records", "participants"}
    assert out["meetings"].columns == zoom.MEETINGS_COLS
    assert out["meetings"].count() == 2
    m = out["meetings"].filter("meet_id = 111").first()
    assert m.meet_start_time == dt.datetime(2023, 5, 1, 9, 0)
    assert m.meet_topic == "Лекция 1"
    assert out["records"].columns == zoom.RECORDS_COLS
    assert out["records"].count() == 2  # empty recording_files dropped
    pts = out["participants"]
    assert pts.count() == 3
    ips = {r.id: r.internal_ip_addresses for r in pts.collect()}
    assert ips == {"p1": "", "p2": "10.0.0.1", "p3": "10.0.0.1,10.0.0.2"}


def test_zoom_no_data_gate(spark, fixdir):
    assert zoom.meetings_table(spark, f"{fixdir}/zoom_empty/*.json") is None


def test_monkey_tables(spark, fixdir):
    out = monkey.monkey_tables(
        spark, f"{fixdir}/monkey/survey_*.json", f"{fixdir}/monkey/responses_*.json"
    )
    assert set(out) == {
        "hst_surveys", "hst_surveys_questions", "hst_surveys_choices",
        "hst_surveys_responses", "hst_surveys_answers",
    }
    s = out["hst_surveys"].first()
    assert s.survey_id == 100 and s.title == "Обратная связь"
    assert s.date_created == dt.datetime(2021, 12, 26, 10, 40)
    # 2 questions x their headings: q1001 has 2 headings, q1002 has 1
    qs = out["hst_surveys_questions"]
    assert qs.count() == 3
    assert sorted(r.headings_heading for r in qs.collect()) == ["H-one", "H-three", "H-two"]
    ch = out["hst_surveys_choices"]
    assert ch.count() == 2  # only H-one has choices; empty lists dropped
    assert {r.choices_text for r in ch.collect()} == {"Да", "Нет"}
    assert ch.filter("choices_id = 5001").first().choices_quiz_options_score == "1"
    resp = out["hst_surveys_responses"]
    assert resp.count() == 1 and resp.first().response_total_time == 321
    ans = out["hst_surveys_answers"]
    assert ans.count() == 2
    assert ans.filter("questions_answers_choice_id = 5001").first(
    ).choices_questions_answers_weight == 10


def test_vk_tables(spark, fixdir):
    groups = vk.vk_group_tables(spark, f"{fixdir}/vk/gsom_ma.json")
    g = groups["hst_groups"]
    assert g.count() == 2
    row = g.filter("group_id = 123").first()
    assert (row.city_title, row.country_title) == ("Санкт-Петербург", "Россия")
    assert groups["hst_groups_contacts"].count() == 1
    assert groups["hst_groups_links"].count() == 1

    members = vk.vk_member_tables(
        spark, f"{fixdir}/vk/members_full_group_123.json", group_id=123
    )
    m = members["hst_members"]
    assert m.count() == 2 and len(m.columns) == len(vk.MEMBERS_COLS)
    anna = m.filter("member_id = 11").first()
    assert anna.last_seen_time == dt.datetime(2023, 5, 1, 10, 20, 30)
    assert anna.education_form == "Full-time"
    assert anna.group_id == 123
    petr = m.filter("member_id = 12").first()
    assert petr.last_seen_time is None and petr.deactivated == "banned"
    assert members["hst_members_career"].count() == 1
    assert members["hst_members_schools"].first().schools_name == "School 1"
    assert members["hst_members_universities"].first().universities_chair_name == "Finance"

    walls = vk.vk_wall_tables(spark, f"{fixdir}/vk/wall_owner_id_-123.json")
    wi = walls["hst_wall_items"]
    assert wi.count() == 2
    p1 = wi.filter("items_id = 1").first()
    assert p1.items_date == dt.datetime(2023, 5, 1, 10, 20, 30)
    assert p1.items_likes_count == 10
    assert wi.filter("items_id = 2").first().items_edited is None
    wh = walls["hst_wall_history"]
    assert wh.count() == 1  # items without copy_history dropped
    assert wh.first().history_post_source_platform == "web"


def test_jhub_table(spark, fixdir):
    out = jhub.jhub_logs_table(spark, f"{fixdir}/jhub/*.jsonl")
    assert out.columns == [
        "time_stamp", "kuber_container_name", "kuber_host", "kuber_pod_name",
        "log_head", "log_timestamp", "log_service", "log_type", "log_code",
        "log_msg",
    ]
    rows = {r.log_head: r for r in out.collect()}
    ok = rows["I"]
    assert ok.log_service == "JupyterHub" and ok.log_code == "123"
    assert ok.log_msg == "user login"
    assert ok.log_timestamp == dt.datetime(2023, 5, 1, 10, 0, 0, 123000)
    assert ok.time_stamp == dt.datetime(2023, 5, 1, 10, 0, 0, 123456)
    bad = rows[""]
    assert bad.log_msg == "plain line no brackets"
    assert bad.log_timestamp is None


def test_zoom_history_mode(spark, fixdir):
    out = zoom.zoom_tables(
        spark,
        f"{fixdir}/zoom/meetings_logs_*.json",
        f"{fixdir}/zoom/participants_*.json",
        history=True,
    )
    # zoom_proc_hst.py parity: audit column on every table
    for name, df in out.items():
        assert "load_datetime" in df.columns, name
    assert out["meetings"].filter("load_datetime IS NULL").count() == 0


def test_cli_jhub_end_to_end(spark, fixdir, tmp_path):
    """CLI parity: `python -m datalake_scripts_spark jhub ...` — the
    engine's replacement for the reference's script entry points
    (SURVEY.md §3). Runs in-process against the shared session."""
    from datalake_scripts_spark.cli import main

    out = str(tmp_path / "cli_out")
    rc = main([
        "jhub", "--logs", f"{fixdir}/jhub/*.jsonl", "--out", out,
        "--mode", "overwrite",
    ])
    assert rc == 0
    written = spark.read.parquet(f"{out}/jhublogs")
    assert written.count() == 2
    assert "log_msg" in written.columns


def test_cli_monkey_end_to_end(spark, fixdir, tmp_path):
    from datalake_scripts_spark.cli import main

    out = str(tmp_path / "cli_monkey")
    rc = main([
        "monkey",
        "--details", f"{fixdir}/monkey/survey_*.json",
        "--responses", f"{fixdir}/monkey/responses_*.json",
        "--out", out, "--mode", "overwrite",
    ])
    assert rc == 0
    for tbl, n in [("hst_surveys", 1), ("hst_surveys_questions", 3),
                   ("hst_surveys_choices", 2), ("hst_surveys_responses", 1),
                   ("hst_surveys_answers", 2)]:
        assert spark.read.parquet(f"{out}/{tbl}").count() == n, tbl


def test_cli_zoom_and_vk_end_to_end(spark, fixdir, tmp_path):
    from datalake_scripts_spark.cli import main

    out_z = str(tmp_path / "cli_zoom")
    rc = main([
        "zoom", "--meetings", f"{fixdir}/zoom/meetings_logs_*.json",
        "--participants", f"{fixdir}/zoom/participants_*.json",
        "--out", out_z, "--mode", "overwrite", "--history",
    ])
    assert rc == 0
    assert spark.read.parquet(f"{out_z}/meetings").count() == 2
    assert "load_datetime" in spark.read.parquet(f"{out_z}/participants").columns

    out_v = str(tmp_path / "cli_vk")
    rc = main([
        "vk", "--groups", f"{fixdir}/vk/gsom_ma.json",
        "--members", f"{fixdir}/vk/members_full_group_123.json",
        "--group-id", "123", "--walls", f"{fixdir}/vk/wall_owner_id_-123.json",
        "--out", out_v, "--mode", "overwrite",
    ])
    assert rc == 0
    assert spark.read.parquet(f"{out_v}/hst_members").count() == 2
    assert spark.read.parquet(f"{out_v}/hst_wall_history").count() == 1


def test_cli_versioned_sink(spark, fixdir, tmp_path):
    from datalake_scripts_spark.cli import main
    from datalake_scripts_spark.operators.versioned import (
        current_version,
        read_versioned,
    )

    out = str(tmp_path / "cli_versioned")
    for _ in range(2):  # two runs -> two snapshots
        rc = main([
            "jhub", "--logs", f"{fixdir}/jhub/*.jsonl", "--out", out,
            "--mode", "append", "--versioned",
        ])
        assert rc == 0
    table = f"{out}/jhublogs"
    assert current_version(table) == 2
    assert read_versioned(spark, table).count() == 4
    assert read_versioned(spark, table, version=1).count() == 2


def test_cli_table_merge(spark, sf_dir, tmp_path):
    """table merge: upsert a parquet batch into a versioned table by
    key — matched rows replace, new keys insert, one commit."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.cli import main as cli_main
    from datalake_scripts_spark.io import read_table
    from datalake_scripts_spark.operators.versioned import read_versioned

    tdir = str(tmp_path / "merge_table")
    nation = read_table(spark, sf_dir, "nation")
    batch1 = str(tmp_path / "b1")
    nation.write.parquet(batch1)
    assert cli_main(["table", "--dir", tdir, "merge",
                     "--source", batch1, "--keys", "n_nationkey"]) == 0
    batch2 = str(tmp_path / "b2")
    upd = nation.filter(F.col("n_nationkey") < 3).withColumn(
        "n_name", F.lit("MERGED")
    )
    ins = nation.filter(F.col("n_nationkey") < 2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 500
    )
    upd.unionByName(ins).write.parquet(batch2)
    assert cli_main(["table", "--dir", tdir, "merge",
                     "--source", batch2, "--keys", "n_nationkey"]) == 0
    got = read_versioned(spark, tdir)
    assert got.count() == nation.count() + 2
    assert got.filter("n_name = 'MERGED'").count() == 3



def _build_plans(spark, fixdir):
    zoom.zoom_tables(
        spark, f"{fixdir}/zoom/meetings_logs_*.json", f"{fixdir}/zoom/participants_*.json"
    )
    monkey.monkey_tables(
        spark, f"{fixdir}/monkey/survey_*.json", f"{fixdir}/monkey/responses_*.json"
    )
    vk.vk_group_tables(spark, f"{fixdir}/vk/gsom_ma.json")
    vk.vk_member_tables(spark, f"{fixdir}/vk/members_full_group_123.json", group_id=123)
    vk.vk_wall_tables(spark, f"{fixdir}/vk/wall_owner_id_-123.json")
    jhub.jhub_logs_table(spark, f"{fixdir}/jhub/*.jsonl")


def test_plan_builds_stay_cheap_on_py4j(spark, fixdir, monkeypatch):
    """Building the four plans is driver work paid per batch. Their
    projections go to the JVM as SQL strings in one selectExpr; built as
    one F.col(...).alias(...) per column, each wrapped in PySpark's
    call-site capture, the same builds sent about 13,400 Py4J commands
    (about 2,600 now)."""
    from py4j.clientserver import ClientServerConnection

    _build_plans(spark, fixdir)  # warm-up: first-use lookups are not per batch
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    _build_plans(spark, fixdir)
    monkeypatch.undo()
    assert 0 < len(sent) < 5000, len(sent)
