"""json_ingest: a nightly batch of nested landing JSON for the four source
domains, shredded by the ingest plans and appended to history tables.

The generator writes JSON-lines files directly (no Spark job) and, from
the records it wrote, computes each output table's expected row count and
an order-independent checksum over its keys and parsed timestamps. The
expectations follow the source processors' documented semantics: plain
explode drops parents with empty arrays, ISO/epoch/fractional timestamps
are parsed to microseconds (nanoseconds truncate), malformed log lines
keep the whole line as the message and parse to empty fields.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
import zlib

from harness import READ_REPS, dir_bytes, median

# one nightly batch; the history tables start from one earlier batch
SIZES = {
    "meeting_docs": 40,       # documents per meetings file, 0-6 meetings each
    "surveys": 30,            # survey details documents
    "response_docs": 30,      # responses documents, 1-10 responses each
    "groups": 40,
    "members": 300,
    "walls": 40,              # wall documents, 1-10 items each
    "log_lines": 3000,
}

EPOCH_2023 = 1672531200
VK_GROUP_ID = 77

# table -> columns of its checksum; a "ts:" prefix marks a timestamp,
# compared as epoch microseconds
CHECK_COLS = {
    "meetings": ["meet_uuid", "meet_id", "ts:meet_start_time"],
    "records": ["meet_uuid", "rec_id", "ts:rec_recording_start", "ts:rec_recording_end"],
    "participants": ["meeting_uuid", "id", "ts:join_time", "ts:leave_time",
                     "internal_ip_addresses"],
    "hst_surveys": ["survey_id", "ts:date_created", "ts:date_modified"],
    "hst_surveys_questions": ["survey_id", "pages_id", "qs_id", "headings_heading"],
    "hst_surveys_choices": ["qs_id", "choices_id", "choices_quiz_options_score"],
    "hst_surveys_responses": ["response_id", "ts:response_date_created",
                              "ts:response_date_modified"],
    "hst_surveys_answers": ["response_id", "questions_id", "questions_answers_choice_id",
                            "choices_questions_answers_weight"],
    "hst_groups": ["group_id", "city_id", "country_title"],
    "hst_groups_contacts": ["group_id", "contacts_email"],
    "hst_groups_links": ["group_id", "links_id"],
    "hst_members": ["member_id", "group_id", "ts:last_seen_time", "education_form"],
    "hst_members_career": ["member_id", "career_company", "career_from"],
    "hst_members_schools": ["member_id", "schools_id"],
    "hst_members_universities": ["member_id", "universities_id"],
    "hst_wall_items": ["items_id", "ts:items_date", "ts:items_edited"],
    "hst_wall_history": ["history_id", "ts:history_date"],
    "jhublogs": ["ts:time_stamp", "log_head", "ts:log_timestamp", "log_code", "log_msg"],
}


def _key(parts) -> int:
    """crc32 of the '|'-joined values, nulls as '~' (the Spark side
    computes the same expression over the output)."""
    text = "|".join("~" if p is None else str(p) for p in parts)
    return zlib.crc32(text.encode())


class Expect:
    """Per-table (row count, checksum) accumulated while generating."""

    def __init__(self):
        self.tables = {t: [0, 0] for t in CHECK_COLS}
        # join day -> participant rows, for the analyst read
        self.days: dict[str, int] = {}

    def add(self, table: str, *parts) -> None:
        acc = self.tables[table]
        acc[0] += 1
        acc[1] += _key(parts)

    def merged(self, other: "Expect") -> dict:
        return {t: (a[0] + other.tables[t][0], a[1] + other.tables[t][1])
                for t, a in self.tables.items()}

    def merged_days(self, other: "Expect") -> dict:
        days = dict(self.days)
        for d, n in other.days.items():
            days[d] = days.get(d, 0) + n
        return days

    def rows(self) -> int:
        return sum(a[0] for a in self.tables.values())


def _micros(ts: int, frac_us: int = 0) -> int:
    return ts * 1_000_000 + frac_us


def _iso(ts: int, z: bool) -> str:
    s = dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return s + "Z" if z else s


def _word(r: random.Random, n: int = 6) -> str:
    return "".join(r.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def _write_lines(path: str, docs) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, ensure_ascii=False))
            f.write("\n")


class Shape:
    """Counts and structural choices of the generated documents: a fixed
    sequence, the same for every seed, so that every seed yields the same
    number of rows per table and the same nesting; the seed varies the
    contents."""

    def __init__(self, batch: int):
        self.r = random.Random(-1 - batch)

    def n(self, lo: int, hi: int) -> int:
        return self.r.randint(lo, hi)

    def flag(self, p: float) -> bool:
        return self.r.random() < p

    def pick(self, options):
        return self.r.choice(options)


class Ids:
    """Distinct ids across the two generated batches."""

    def __init__(self):
        self.n = 0

    def __call__(self) -> int:
        self.n += 1
        return self.n


def _zoom(r, k, ids, exp, land):
    meeting_docs, part_docs = [], []
    # the no-data page of the meetings log (sum(total_records) stays > 0)
    meeting_docs.append({"from": "2023-04-30", "to": "2023-04-30", "page_size": 300,
                         "total_records": 0, "meetings": []})
    for d in range(SIZES["meeting_docs"]):
        meetings = []
        for _ in range(k.n(0, 6)):
            mid = ids()
            uuid = f"m{mid:023d}"
            start = EPOCH_2023 + r.randrange(365 * 86400)
            m = {"account_id": _word(r, 22), "duration": r.randint(5, 180),
                 "host_email": f"{_word(r)}@uni.example", "host_id": _word(r, 22),
                 "id": mid, "recording_count": 0, "share_url": f"https://zoom/{mid}",
                 "start_time": _iso(start, True), "timezone": "Europe/Moscow",
                 "topic": "Лекция " + _word(r), "total_size": 0, "type": 2,
                 "uuid": uuid}
            if k.flag(0.1):
                # a meeting missing its optional fields
                for field in ("topic", "share_url", "host_email"):
                    del m[field]
            else:
                recs = []
                for _ in range(k.n(0, 3)):
                    rid = f"r{ids():035d}"
                    rs = start + r.randrange(600)
                    re_ = rs + r.randrange(60, 7200)
                    recs.append({"download_url": f"https://dl/{rid}", "file_extension": "MP4",
                                 "file_size": r.randrange(1 << 30), "file_type": "MP4",
                                 "id": rid, "meeting_id": uuid, "play_url": f"https://play/{rid}",
                                 "recording_start": _iso(rs, True),
                                 "recording_end": _iso(re_, True),
                                 "recording_type": "shared_screen", "status": "completed"})
                    exp.add("records", uuid, rid, _micros(rs), _micros(re_))
                m["recording_files"] = recs
                m["recording_count"] = len(recs)
            exp.add("meetings", uuid, mid, _micros(start))
            meetings.append(m)
            parts = []
            for _ in range(k.n(1, 8)):
                pid = _word(r, 22)
                join = start + r.randrange(600)
                leave = join + r.randrange(60, 7200)
                ips = [f"10.0.{r.randrange(256)}.{r.randrange(256)}"
                       for _ in range(k.pick((0, 1, 2, 3)))]
                p = {f: None for f in ("camera", "customer_key", "data_center",
                                       "from_sip_uri", "harddisk_id", "mac_addr",
                                       "registrant_id", "sip_uri")}
                p.update({"connection_type": "P2P", "device": "Windows", "domain": "uni",
                          "email": f"{pid}@uni.example", "full_data_center": "EU",
                          "id": pid, "internal_ip_addresses": ips,
                          "ip_address": f"192.168.{r.randrange(256)}.{r.randrange(256)}",
                          "join_time": _iso(join, True), "leave_time": _iso(leave, True),
                          "leave_reason": "left", "location": "Moscow", "microphone": "mic",
                          "network_type": "Wifi", "participant_user_id": _word(r),
                          "pc_name": _word(r), "recording": r.random() < 0.5,
                          "role": "attendee", "share_application": False,
                          "share_desktop": r.random() < 0.2, "share_whiteboard": False,
                          "speaker": "spk", "status": "in_meeting",
                          "user_id": str(r.randrange(10 ** 9)), "user_name": _word(r),
                          "version": "5.13"})
                parts.append(p)
                exp.add("participants", uuid, pid, _micros(join), _micros(leave),
                        ",".join(ips))
                day = dt.datetime.fromtimestamp(join, dt.timezone.utc).date().isoformat()
                exp.days[day] = exp.days.get(day, 0) + 1
            part_docs.append({"uuid": uuid, "participants_data": {
                "page_count": 1, "page_size": 300, "total_records": len(parts),
                "participants": parts}})
        meeting_docs.append({"from": "2023-01-01", "to": "2023-12-31", "page_size": 300,
                             "total_records": len(meetings), "meetings": meetings})
    _write_lines(f"{land}/zoom/meetings_logs.json", meeting_docs)
    _write_lines(f"{land}/zoom/participants.json", part_docs)


def _monkey(r, k, ids, exp, land):
    surveys, responses = [], []
    for _ in range(SIZES["surveys"]):
        sid = ids()
        created = EPOCH_2023 + r.randrange(300 * 86400)
        modified = created + r.randrange(30 * 86400)
        pages = []
        for pi in range(k.n(1, 3)):
            pg = ids()
            questions = []
            # a page with an empty questions array is dropped by explode
            n_q = 0 if pi == 1 and k.flag(0.5) else k.n(1, 4)
            for qi in range(n_q):
                qid = ids()
                headings = []
                # some questions fan out to several headings
                for _h in range(k.pick((1, 1, 2, 3))):
                    heading = "Q " + _word(r, 10)
                    choices = []
                    for ci in range(k.n(2, 5)):
                        cid = ids()
                        score = str(r.randrange(10))
                        choices.append({"id": cid, "is_na": False, "position": ci + 1,
                                        "quiz_options": {"score": score},
                                        "text": _word(r), "visible": True,
                                        "weight": r.randrange(10)})
                        exp.add("hst_surveys_choices", qid, cid, score)
                    headings.append({"heading": heading, "choices": choices})
                    exp.add("hst_surveys_questions", sid, pg, qid, heading)
                questions.append({"id": qid, "position": qi + 1, "headings": headings,
                                  "answers": {"other_id": None}})
            pages.append({"id": pg, "position": pi + 1, "question_count": len(questions),
                          "title": _word(r), "questions": questions})
        surveys.append({"id": str(sid), "title": "Survey " + _word(r), "language": "ru",
                        "folder_id": 1, "page_count": len(pages), "question_count": 0,
                        "response_count": 0, "href": f"https://api/{sid}",
                        "date_created": _iso(created, False),
                        "date_modified": _iso(modified, False), "pages": pages})
        exp.add("hst_surveys", sid, _micros(created), _micros(modified))
    for _ in range(SIZES["response_docs"]):
        data = []
        for _ in range(k.n(1, 10)):
            rid = ids()
            created = EPOCH_2023 + r.randrange(300 * 86400)
            modified = created + r.randrange(3600)
            pages = []
            for _ in range(k.n(1, 2)):
                qs = []
                for _ in range(k.n(1, 3)):
                    qid = ids()
                    answers = []
                    for _ in range(k.n(1, 3)):
                        choice, weight = ids(), r.randrange(10)
                        answers.append({"choice_id": choice, "row_id": None,
                                        "text": _word(r), "choices": {"weight": weight}})
                        exp.add("hst_surveys_answers", rid, qid, choice, weight)
                    qs.append({"id": qid, "answers": answers})
                pages.append({"id": ids(), "questions": qs})
            data.append({"id": rid, "survey_id": 1, "recipient_id": ids(),
                         "date_created": _iso(created, False),
                         "date_modified": _iso(modified, False),
                         "email_address": f"{_word(r)}@uni.example", "ip_address": "10.1.1.1",
                         "first_name": _word(r), "last_name": _word(r),
                         "response_status": "completed", "total_time": r.randrange(900),
                         "pages": pages})
            exp.add("hst_surveys_responses", rid, _micros(created), _micros(modified))
        responses.append({"per_page": 100, "total": len(data),
                          "links": {"self": "https://api/responses?page=1"}, "data": data})
    _write_lines(f"{land}/monkey/details.json", surveys)
    _write_lines(f"{land}/monkey/responses.json", responses)


def _vk(r, k, ids, exp, land):
    groups, members, walls = [], [], []
    for _ in range(SIZES["groups"]):
        gid = ids()
        contacts = [{"desc": "admin", "email": f"{_word(r)}@vk.example", "phone": None}
                    for _ in range(k.n(0, 3))]
        links = [{"id": ids(), "name": _word(r), "desc": None, "url": "https://x"}
                 for _ in range(k.n(0, 3))]
        city, country = r.randrange(100), "Россия"
        groups.append({"id": gid, "type": "group", "name": _word(r), "screen_name": _word(r),
                       "activity": "edu", "description": _word(r, 30), "is_closed": 0,
                       "members_count": r.randrange(10000), "status": "", "verified": 0,
                       "site": None, "wiki_page": None,
                       "city": {"id": city, "title": "Москва"},
                       "country": {"id": 1, "title": country},
                       "contacts": contacts, "links": links})
        exp.add("hst_groups", gid, city, country)
        for c in contacts:
            exp.add("hst_groups_contacts", gid, c["email"])
        for lk in links:
            exp.add("hst_groups_links", gid, lk["id"])
    for _ in range(SIZES["members"]):
        mid = ids()
        seen = EPOCH_2023 + r.randrange(365 * 86400)
        form = k.pick(("Очное отделение", "Заочное отделение", None))
        career = [{"city_id": 1, "country_id": 1, "company": _word(r), "group_id": None,
                   "position": "dev", "from": 2000 + r.randrange(20), "until": None}
                  for _ in range(k.pick((0, 0, 1, 2)))]
        schools = [{"city": 1, "class": "a", "country": 1, "id": str(ids()), "name": _word(r),
                    "speciality": None, "type": 1, "type_str": "school",
                    "year_from": 2000, "year_graduated": 2010, "year_to": 2010}
                   for _ in range(k.pick((0, 1, 1, 2)))]
        unis = [{"chair": 1, "chair_name": "c", "city": 1, "country": 1,
                 "education_form": form, "education_status": "Выпускник", "faculty": 1,
                 "faculty_name": "f", "graduation": 2015, "id": ids(), "name": _word(r)}
                for _ in range(k.pick((0, 1, 2)))]
        members.append({"id": mid, "first_name": _word(r), "last_name": _word(r),
                        "sex": r.choice((1, 2)), "city": {"id": 1, "title": "Москва"},
                        "country": {"id": 1, "title": "Россия"}, "is_closed": False,
                        "can_post": 0, "followers_count": r.randrange(1000),
                        "education": {"form": form, "status": None},
                        "last_seen": {"platform": 7, "time": seen},
                        "career": career, "schools": schools, "universities": unis})
        exp.add("hst_members", mid, VK_GROUP_ID, _micros(seen), form)
        for c in career:
            exp.add("hst_members_career", mid, c["company"], c["from"])
        for s in schools:
            exp.add("hst_members_schools", mid, s["id"])
        for u in unis:
            exp.add("hst_members_universities", mid, u["id"])
    for _ in range(SIZES["walls"]):
        owner = -ids()
        items = []
        for _ in range(k.n(1, 10)):
            iid = ids()
            date = EPOCH_2023 + r.randrange(365 * 86400)
            item = {"owner_id": owner, "from_id": owner, "id": iid, "date": date,
                    "post_type": "post", "text": _word(r, 40),
                    "comments": {"count": r.randrange(50)}, "donut": {"is_donut": False},
                    "likes": {"count": r.randrange(500), "user_likes": 0},
                    "post_source": {"type": "vk", "platform": None},
                    "reposts": {"count": 1, "user_reposted": 0},
                    "views": {"count": r.randrange(10000)}}
            edited = None
            if k.flag(0.3):  # edited is often absent
                edited = date + r.randrange(86400)
                item["edited"] = edited
            if k.flag(0.4):  # items with and without copy_history
                hist = []
                for _ in range(k.n(1, 2)):
                    hid, hdate = ids(), date - r.randrange(86400 * 30)
                    hist.append({"id": hid, "from_id": -1, "owner_id": -1, "date": hdate,
                                 "post_type": "post", "text": _word(r, 20),
                                 "post_source": {"platform": "android", "type": "api"}})
                    exp.add("hst_wall_history", hid, _micros(hdate))
                item["copy_history"] = hist
            items.append(item)
            exp.add("hst_wall_items", iid, _micros(date),
                    None if edited is None else _micros(edited))
        walls.append({"count": len(items), "items": items})
    _write_lines(f"{land}/vk/groups.json", groups)
    _write_lines(f"{land}/vk/members.json", members)
    _write_lines(f"{land}/vk/walls.json", walls)


def _jhub(r, k, ids, exp, land):
    lines = []
    for i in range(SIZES["log_lines"]):
        sec = EPOCH_2023 + r.randrange(365 * 86400)
        nanos = r.randrange(10 ** 9)
        t = dt.datetime.fromtimestamp(sec, dt.timezone.utc)
        time_str = t.strftime("%Y-%m-%dT%H:%M:%S") + f".{nanos:09d}Z"
        msg = f"{ids()} {_word(r, 12)} 200 GET /hub/api/users {r.randrange(1000)}ms"
        if k.flag(0.1):
            # malformed: no bracketed prefix, whole line is the message
            log = "Traceback (most recent call last): " + msg
            exp.add("jhublogs", _micros(sec, nanos // 1000), "", None, "", log)
        else:
            head, code = r.choice("IWE"), r.randrange(1, 999)
            log_sec, ms = sec - r.randrange(5), r.randrange(1000)
            log_ts = dt.datetime.fromtimestamp(log_sec, dt.timezone.utc)
            log = (f"[{head} {log_ts.strftime('%Y-%m-%d %H:%M:%S')}.{ms:03d} "
                   f"JupyterHub app:{code}] {msg}")
            exp.add("jhublogs", _micros(sec, nanos // 1000), head,
                    _micros(log_sec, ms * 1000), str(code), msg)
        lines.append({"time": time_str, "log": log,
                      "kubernetes": {"container_name": "hub", "host": f"node-{i % 7}",
                                     "pod_name": "hub-7d9f", "annotations": {"a": "b"},
                                     "labels": {"app": "jupyterhub"}}})
    _write_lines(f"{land}/jhub/logs.json", lines)


def generate(seed: int, batch: int, land: str, ids: Ids) -> Expect:
    """Write one batch of landing files under ``land``; return what the
    ingest must produce from them."""
    r = random.Random(seed * 1000 + batch)
    k = Shape(batch)
    exp = Expect()
    for gen in (_zoom, _monkey, _vk, _jhub):
        gen(r, k, ids, exp, land)
    return exp


def _tables(spark, land):
    """The four domains' plan calls, each returning {table: DataFrame}."""
    from datalake_scripts_spark.plans import jhub, monkey, vk, zoom

    return [
        ("zoom", lambda: zoom.zoom_tables(
            spark, f"{land}/zoom/meetings_logs.json", f"{land}/zoom/participants.json",
            history=True)),
        ("monkey", lambda: monkey.monkey_tables(
            spark, f"{land}/monkey/details.json", f"{land}/monkey/responses.json")),
        ("vk", lambda: {
            **vk.vk_group_tables(spark, f"{land}/vk/groups.json"),
            **vk.vk_member_tables(spark, f"{land}/vk/members.json", VK_GROUP_ID),
            **vk.vk_wall_tables(spark, f"{land}/vk/walls.json"),
        }),
        ("jhub", lambda: {"jhublogs": jhub.jhub_logs_table(spark, f"{land}/jhub/logs.json")}),
    ]


def ingest(spark, tracer, land: str, out: str) -> list[dict]:
    """One nightly batch: every plan, every output appended. Returns the
    per-domain spans."""
    from datalake_scripts_spark.operators.versioned import write_versioned

    spans = []
    for domain, build in _tables(spark, land):
        with tracer.span(f"plans.{domain}") as sp:
            for name, df in build().items():
                with tracer.span("versioned.append"):
                    write_versioned(spark, df, f"{out}/{name}", mode="append")
        spans.append(sp)
    return spans


def checksums(spark, out: str) -> dict:
    """Row count and checksum of every output table's latest snapshot,
    in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.versioned import read_versioned

    parts = []
    for table, cols in CHECK_COLS.items():
        exprs = []
        for c in cols:
            col = (F.unix_micros(F.col(c[3:])) if c.startswith("ts:") else F.col(c))
            exprs.append(F.coalesce(col.cast("string"), F.lit("~")))
        df = read_versioned(spark, f"{out}/{table}")
        parts.append(df.select(
            F.lit(table).alias("t"),
            F.crc32(F.concat_ws("|", *exprs).cast("binary")).alias("h"),
        ))
    rows = (reduce(lambda a, b: a.unionByName(b), parts)
            .groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
            .collect())
    return {r["t"]: (r["n"], r["s"]) for r in rows}


def read_history(spark, out: str) -> dict:
    """An analyst read of a history table: participant rows per day."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.versioned import read_versioned

    df = read_versioned(spark, f"{out}/participants")
    rows = df.groupBy(F.date_format("join_time", "yyyy-MM-dd").alias("d")).count().collect()
    return {r["d"]: r["count"] for r in rows}


def run(session, tracer, run_state, work: str, seed: int, setup_mark) -> dict:
    spark = session.spark
    ids = Ids()
    exp_history = generate(seed, 0, f"{work}/landing/history", ids)
    exp_batch = generate(seed, 1, f"{work}/landing/batch", ids)
    expected = exp_history.merged(exp_batch)
    expected_days = exp_history.merged_days(exp_batch)
    template, out = f"{work}/template", f"{work}/out"
    # the history tables hold one earlier batch before the nightly one;
    # building them (and reading them) is the warm-up unit
    ingest(spark, tracer, f"{work}/landing/history", template)
    for _ in range(READ_REPS):
        read_history(spark, template)
    session.hygiene()
    tracer.collect()
    setup_s = setup_mark()

    stored = []
    batch_rows = exp_batch.rows()

    def one_batch():
        shutil.copytree(template, out)
        before = dir_bytes(out), _count_data_files(out)
        t0 = time.perf_counter()
        spans = ingest(spark, tracer, f"{work}/landing/batch", out)
        run_state.unit_ms.append((time.perf_counter() - t0) * 1000.0)
        run_state.rows += batch_rows
        reads = []
        for _ in range(READ_REPS):
            t0 = time.perf_counter()
            with tracer.span("versioned.read_latest"):
                reads.append(read_history(spark, out))
            run_state.read_ms.append((time.perf_counter() - t0) * 1000.0)
        # untimed from here
        if tracer.enabled:
            run_state.record("plans.cached_mb_retained", session.cached_mb())
            tracer.collect()
            appends = {"append_ms": 0.0, "append_jobs": 0}
            for sp in spans:
                f = tracer.figures(sp)
                d = sp["name"]
                for k in ("wall_ms", "jobs", "executor_cpu_s", "input_mb", "driver_only_s"):
                    run_state.record(f"{d}.{k}", f[k])
            domains = {sp["id"] for sp in spans}
            for s in tracer.spans[spans[0]["id"]:]:
                if s["name"] == "versioned.append" and s["parent"] in domains:
                    f = tracer.figures(s)
                    appends["append_ms"] += f["wall_ms"]
                    appends["append_jobs"] += f["jobs"]
            run_state.record("versioned.append_ms", appends["append_ms"])
            run_state.record("versioned.append_jobs", appends["append_jobs"])
            run_state.record("versioned.files_written", _count_data_files(out) - before[1])
            run_state.record("versioned.bytes_written_mb", (dir_bytes(out) - before[0]) / 1e6)
        got = checksums(spark, out)
        for table, want in expected.items():
            run_state.check(got.get(table) == want, f"{table}: {got.get(table)} != {want}")
        run_state.check(all(days == expected_days for days in reads), "read_history")
        stored.append(dir_bytes(out) / 1e6)
        session.hygiene(out)

    run_state.loop(one_batch)
    return {"setup_s": setup_s, "stored_mb": median(stored)}


def _count_data_files(root: str) -> int:
    n = 0
    for dirpath, _d, names in os.walk(root):
        if os.sep + "data" in dirpath:
            n += sum(1 for x in names if x.endswith(".parquet"))
    return n
