"""VK pipeline: groups / members / walls JSON -> the nine hst_* tables
(reference: vk_proc.py, the deepest-nesting processor).

Output contracts match the reference's selects/DDL:
- hst_groups              (vk_proc.py:355-400)
- hst_groups_contacts     (vk_proc.py:406-427)
- hst_groups_links        (vk_proc.py:433-456)
- hst_members             (vk_proc.py:470-595, 52 columns)
- hst_members_career      (vk_proc.py:601-630)
- hst_members_schools     (vk_proc.py:636-673)
- hst_members_universities(vk_proc.py:679-716)
- hst_wall_items          (vk_proc.py:729-772)
- hst_wall_history        (vk_proc.py:778-807, double-explode of
  items[].copy_history[])

Epoch-seconds timestamps (last_seen.time, items.date/edited,
history.date) use functions.casts.to_ts_epoch_seconds — the semantics
vk_proc.py:170-173 gets implicitly from to_timestamp on numerics. The
reference fetches group_id back to the driver to re-inject it
(vk_proc.py:465, an anti-pattern at scale); here it's a plain column
parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.casts import to_ts_epoch_seconds
from ..io import read_json
from ..operators.nested import explode_into, flatten, quote_ident
from . import schemas

MEMBERS_COLS = [
    "load_datetime", "group_id", "member_id", "first_name", "last_name",
    "maiden_name", "screen_name", "nickname", "sex", "city_id", "city_title",
    "home_town", "country_id", "country_title", "about", "activities",
    "books", "can_post", "deactivated", "domain", "followers_count",
    "friend_status", "games", "interests", "is_closed", "is_friend",
    "personal", "site", "skype", "livejournal", "twitter", "has_mobile",
    "mobile_phone", "home_phone", "status", "relation",
    "relation_partner_id", "relation_partner_first_name",
    "relation_partner_last_name", "education_form", "education_status",
    "faculty", "faculty_name", "graduation", "university", "university_name",
    "occupation_id", "occupation_name", "occupation_type", "movies", "music",
    "trending", "tv", "verified", "wall_default", "last_seen_platform",
    "last_seen_time",
]


def vk_group_tables(spark: SparkSession, groups_path: str) -> dict[str, DataFrame]:
    raw = read_json(spark, groups_path, schema=schemas.VK_GROUP)
    sdf = (
        flatten(raw)  # city.id -> city_id, country.title -> country_title, ...
        .withColumnRenamed("id", "group_id")
        .withColumn("load_datetime", F.current_timestamp())
        .persist()
    )
    out = {
        "hst_groups": sdf.selectExpr(*map(quote_ident, [
            "load_datetime", "group_id", "type", "name", "screen_name",
            "activity", "description", "is_closed", "members_count", "status",
            "verified", "site", "wiki_page", "city_id", "city_title",
            "country_id", "country_title",
        ]))
    }
    contacts = flatten(
        explode_into(sdf, "contacts", carry=["group_id", "load_datetime"], alias="contacts")
    )
    out["hst_groups_contacts"] = contacts.select(
        "load_datetime", "group_id", "contacts_desc", "contacts_email", "contacts_phone"
    )
    links = flatten(
        explode_into(sdf, "links", carry=["group_id", "load_datetime"], alias="links")
    )
    out["hst_groups_links"] = links.select(
        "load_datetime", "group_id", "links_id", "links_name", "links_desc", "links_url"
    )
    return out


def vk_member_tables(
    spark: SparkSession, members_path: str, group_id: int
) -> dict[str, DataFrame]:
    raw = read_json(spark, members_path, schema=schemas.VK_MEMBER)
    sdf = (
        flatten(raw)
        .withColumnRenamed("id", "member_id")
        .withColumn("group_id", F.lit(group_id))
        .withColumn("load_datetime", F.current_timestamp())
        .withColumn("last_seen_time", to_ts_epoch_seconds("last_seen_time"))
        .persist()
    )
    out = {"hst_members": sdf.selectExpr(*map(quote_ident, MEMBERS_COLS))}
    for table, array_col, prefix, cols in [
        (
            "hst_members_career", "career", "career_",
            ["city_id", "country_id", "company", "group_id", "position", "from", "until"],
        ),
        (
            "hst_members_schools", "schools", "schools_",
            ["city", "class", "country", "id", "name", "speciality", "type",
             "type_str", "year_from", "year_graduated", "year_to"],
        ),
        (
            "hst_members_universities", "universities", "universities_",
            ["chair", "chair_name", "city", "country", "education_form",
             "education_status", "faculty", "faculty_name", "graduation", "id", "name"],
        ),
    ]:
        child = flatten(
            explode_into(
                sdf, array_col, carry=["member_id", "load_datetime"], alias=array_col
            )
        )
        out[table] = child.selectExpr(
            "load_datetime", "member_id", *[quote_ident(prefix + c) for c in cols]
        )
    return out


def vk_wall_tables(spark: SparkSession, wall_path: str) -> dict[str, DataFrame]:
    raw = read_json(spark, wall_path, schema=schemas.VK_WALL).withColumn(
        "load_datetime", F.current_timestamp()
    )
    items = flatten(
        explode_into(raw, "items", carry=["load_datetime"], alias="items")
    ).persist()
    out = {
        "hst_wall_items": items.select(
            "load_datetime", "items_owner_id", "items_from_id", "items_id",
            to_ts_epoch_seconds("items_date").alias("items_date"),
            to_ts_epoch_seconds("items_edited").alias("items_edited"),
            "items_post_type", "items_text", "items_comments_count",
            "items_donut_is_donut", "items_likes_count",
            "items_likes_user_likes", "items_post_source_type",
            "items_reposts_count", "items_reposts_user_reposted",
            "items_views_count",
        )
    }
    history = flatten(
        explode_into(
            items, "items_copy_history", carry=["load_datetime"], alias="history"
        )
    )
    out["hst_wall_history"] = history.select(
        "load_datetime", "history_id", "history_from_id", "history_owner_id",
        to_ts_epoch_seconds("history_date").alias("history_date"),
        "history_post_type", "history_text", "history_post_source_platform",
        "history_post_source_type",
    )
    return out
