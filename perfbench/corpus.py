"""dedup_corpus: one LLM-corpus dedup pass over a seeded document corpus.

The corpus has a Zipf vocabulary per language (English dominant, so its
head bigrams pass the hot-shingle cap), short low-quality documents,
exact copies, and planted near-duplicate clusters (edited copies, some
edited again, so clusters can be chains). A pass is a quality filter,
exact dedup, the bigram Jaccard join blocked by language, connected
components, and the keep set written as parquet.

The checks recompute every stage in Python: the quality score, min-id
exact dedup, an exhaustive Jaccard over all same-language pairs of the
capped shingle sets that ``ngram_jaccard_pairs`` documents (lowercase
whitespace tokens, shingles whose document frequency exceeds
max(0.5 * docs, 100) dropped), union-find components of those pairs,
and the keep set: one minimum-id document per cluster plus every
document in no cluster.
"""

from __future__ import annotations

import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import READ_REPS, WARMUP_UNITS, dir_bytes, median

N_DOCS = 500
LANGS = (("en", 0.7), ("de", 0.1), ("es", 0.1), ("fr", 0.1))
VOCAB = 300            # words per language, Zipf-weighted
SHORT_SHARE = 0.08     # 3-6 token documents, removed by the quality filter
COPY_SHARE = 0.05      # exact copies of an earlier document
BASE_SHARE = 0.06      # documents that seed a near-duplicate cluster
EDIT_RATE = 0.04       # share of tokens an edited copy replaces
QUALITY_MIN = 0.6
NGRAM, THRESHOLD = 2, 0.5
MAX_DF_FRAC, MIN_DF_KEEP = 0.5, 100   # ngram_jaccard_pairs defaults
STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
PUNCT = ".,;:!?"


def _vocab(r: random.Random, lang: str) -> list[str]:
    words = list(STOPWORDS_EN) if lang == "en" else []
    while len(words) < VOCAB:
        w = "".join(r.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(r.randint(3, 9)))
        if w not in words:
            words.append(w)
    return words


def generate(seed: int, path: str) -> list[tuple]:
    """Write the corpus as one parquet file; return its (doc_id, text, lang)
    rows. The make-up (languages, lengths, which documents are short,
    copied or edited) is a fixed sequence, the same for every seed; the
    seed draws the words, the edits and the ids."""
    r = random.Random(seed)
    k = random.Random(-1)
    vocab = {lang: _vocab(r, lang) for lang, _ in LANGS}
    weights = [1.0 / (i + 1) ** 1.05 for i in range(VOCAB)]
    langs, shares = zip(*LANGS)

    def tokens(lang, n):
        out = r.choices(vocab[lang], weights, k=n)
        return [w + r.choice(PUNCT) if r.random() < 0.03 else w for w in out]

    def edit(toks, lang):
        return [tokens(lang, 1)[0] if r.random() < EDIT_RATE else t for t in toks]

    docs: list[tuple[str, str]] = []
    while len(docs) < N_DOCS:
        lang = k.choices(langs, shares)[0]
        u = k.random()
        if u < SHORT_SHARE:
            docs.append((" ".join(tokens(lang, k.randint(3, 6))), lang))
        elif u < SHORT_SHARE + COPY_SHARE and docs:
            docs.append(docs[k.randrange(len(docs))])
        elif u < SHORT_SHARE + COPY_SHARE + BASE_SHARE:
            toks = tokens(lang, k.randint(60, 120))
            docs.append((" ".join(toks), lang))
            for _ in range(k.randint(1, 4)):
                # some copies edit the previous copy, so clusters hold chains
                toks = edit(toks if k.random() < 0.5 else docs[-1][0].split(), lang)
                docs.append((" ".join(toks), lang))
        else:
            docs.append((" ".join(tokens(lang, k.randint(60, 120))), lang))
    docs = docs[:N_DOCS]
    ids = r.sample(range(1, 10 * N_DOCS), N_DOCS)
    rows = [(i, t, lang) for i, (t, lang) in zip(ids, docs)]
    pq.write_table(pa.table({"doc_id": pa.array([x[0] for x in rows], pa.int64()),
                             "text": [x[1] for x in rows], "lang": [x[2] for x in rows]}),
                   path)
    return rows


def quality(text: str) -> float:
    """``text.quality_score`` in Python, same operations in the same order."""
    n = len(text)
    len_score = min(n / 400.0, 1.0)
    pr = sum(text.count(c) for c in PUNCT) / max(n, 1)
    toks = text.lower().split()
    sr = sum(1 for t in toks if t in STOPWORDS_EN) / float(max(len(toks), 1))
    return 0.5 * len_score + 0.25 * (1.0 - pr) + 0.25 * (1.0 - sr)


def reference(rows: list[tuple]) -> dict:
    """Every stage of a pass, computed in Python."""
    good = [x for x in rows if quality(x[1]) >= QUALITY_MIN]
    groups: dict[tuple, list] = {}
    for doc_id, text, lang in good:
        groups.setdefault((text, lang), []).append(doc_id)
    uniq = {min(ids): (text, lang, len(ids)) for (text, lang), ids in groups.items()}

    sets = {}
    for doc_id, (text, lang, _n) in uniq.items():
        toks = text.lower().split()
        sets[doc_id] = (lang, {f"{a} {b}" for a, b in zip(toks, toks[1:])})
    df: dict[tuple, int] = {}
    for lang, sh in sets.values():
        for s in sh:
            df[(s, lang)] = df.get((s, lang), 0) + 1
    cap = max(MAX_DF_FRAC * len(uniq), float(MIN_DF_KEEP))
    hot = {k for k, v in df.items() if v > cap}
    capped = {d: (lang, {s for s in sh if (s, lang) not in hot}) for d, (lang, sh) in sets.items()}

    pairs = {}
    for lang in {v[0] for v in capped.values()}:
        docs = sorted(d for d, (lg, sh) in capped.items() if lg == lang and sh)
        vocab = {s: i for i, s in enumerate(sorted({s for d in docs for s in capped[d][1]}))}
        x = np.zeros((len(docs), len(vocab)), dtype=np.float32)
        for row, d in enumerate(docs):
            x[row, [vocab[s] for s in capped[d][1]]] = 1.0
        inter = x @ x.T   # every same-language pair; counts are exact in float32
        sizes = x.sum(axis=1)
        ii, jj = np.nonzero(np.triu(inter, k=1))
        for i, j in zip(ii.tolist(), jj.tolist()):
            n = int(inter[i, j])
            jac = n / float(int(sizes[i]) + int(sizes[j]) - n)
            if jac >= THRESHOLD:
                pairs[(docs[i], docs[j])] = jac

    parent: dict[int, int] = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {d: find(d) for d in parent}
    keep = {d for d in uniq if clusters.get(d, d) == d}
    by_lang: dict[str, int] = {}
    for d in keep:
        by_lang[uniq[d][1]] = by_lang.get(uniq[d][1], 0) + 1
    return {"good": {x[0] for x in good},
            "uniq": {d: v[2] for d, v in uniq.items()},
            "pairs": pairs, "clusters": clusters, "keep": keep, "by_lang": by_lang,
            "hot": len(hot)}


def one_pass(spark, tracer, docs, out: str) -> dict:
    """quality filter -> exact dedup -> Jaccard pairs -> clusters -> keep
    set. Each stage is materialized inside its span so that its work is
    attributed to its layer; returns each stage's time and DataFrame."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.io import write_parquet
    from datalake_scripts_spark.operators import dedup, text

    res = {}

    def stage(name, fn):
        t0 = time.perf_counter()
        with tracer.span(name) as sp:
            df = fn()
        res[name] = (df, (time.perf_counter() - t0) * 1000.0, sp)
        return df

    good = stage("text.quality", lambda: docs.filter(
        text.quality_score("text") >= QUALITY_MIN).localCheckpoint())
    uniq = stage("dedup.exact", lambda: dedup.exact_dedup(
        good, ["text", "lang"], "doc_id").localCheckpoint())
    pairs = stage("dedup.pairs", lambda: dedup.ngram_jaccard_pairs(
        uniq, "doc_id", "text", n=NGRAM, threshold=THRESHOLD, block_col="lang"
    ).localCheckpoint())
    clusters = stage("dedup.clusters", lambda: dedup.duplicate_clusters_star(
        pairs).localCheckpoint())

    def keep():
        dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        write_parquet(uniq.join(dropped, "doc_id", "left_anti")
                      .select("doc_id", "lang", "text"), out, mode="overwrite")

    stage("dedup.keep", keep)
    return res


def read_keep(spark, out: str) -> dict:
    """The analyst read: kept documents per language."""
    return {r["lang"]: r["count"] for r in
            spark.read.parquet(out).groupBy("lang").count().collect()}


def run(session, tracer, run_state, work: str, seed: int, setup_mark) -> dict:
    spark = session.spark
    src, out = f"{work}/corpus.parquet", f"{work}/keep"
    rows = generate(seed, src)
    docs = spark.read.parquet(src)
    for _ in range(WARMUP_UNITS):
        one_pass(spark, tracer, docs, out)
        for _ in range(READ_REPS):
            read_keep(spark, out)
        session.hygiene(out)
    tracer.collect()
    setup_s = setup_mark()

    seen, stored = [], []

    def pass_round():
        res = one_pass(spark, tracer, docs, out)
        run_state.unit_ms.append(sum(v[1] for v in res.values()))
        run_state.rows += len(rows)
        reads = []
        for _ in range(READ_REPS):
            t0 = time.perf_counter()
            with tracer.span("read.keep"):
                reads.append(read_keep(spark, out))
            run_state.read_ms.append((time.perf_counter() - t0) * 1000.0)
        # untimed from here: keep what the checks need
        seen.append({
            "good": {r[0] for r in res["text.quality"][0].select("doc_id").collect()},
            "uniq": {r[0]: r[1] for r in res["dedup.exact"][0].select("doc_id", "n_dups").collect()},
            "pairs": {(r[0], r[1]): r[2] for r in res["dedup.pairs"][0].collect()},
            "clusters": {r[0]: r[1] for r in res["dedup.clusters"][0].collect()},
            "keep": set(pq.read_table(out, columns=["doc_id"]).column(0).to_pylist()),
            # every read must give the same answer
            "by_lang": reads[0] if reads.count(reads[0]) == len(reads) else None,
        })
        stored.append(dir_bytes(out) / 1e6)
        if tracer.enabled:
            tracer.collect()
            for name, (_df, ms, _sp) in res.items():
                run_state.record(f"{name}_ms", ms)
            f = tracer.figures(res["dedup.pairs"][2])
            for k in ("jobs", "shuffle_write_mb", "executor_cpu_s", "driver_only_s"):
                run_state.record(f"dedup.pairs.{k}", f[k])
            run_state.record("dedup.pairs_out", len(seen[-1]["pairs"]))
            run_state.record("dedup.clusters.jobs",
                             tracer.figures(res["dedup.clusters"][2])["jobs"])
        session.hygiene(out)

    run_state.loop(pass_round)
    want = reference(rows)
    for got in seen:
        for stage in ("good", "uniq", "pairs", "clusters", "keep", "by_lang"):
            run_state.check(got[stage] == want[stage], f"{stage} differs")
    return {"setup_s": setup_s, "stored_mb": median(stored)}
