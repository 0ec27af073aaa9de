"""Tests for the training-data curation additions: repetition metrics,
per-group top-k, scalable prefix sums, token chunking, centroid cosine."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chemharmony_spark.operators.core import global_cumsum, grouped_topk
from chemharmony_spark.operators.similarity import group_centroid_cosine
from chemharmony_spark.operators.text import (
    EN_STOPWORDS,
    chunk_tokens,
    repetition_features,
    stopword_ratio,
)

DOCS = [
    (0, "the cat sat on the mat the cat sat again"),
    (1, "spam spam spam spam spam spam"),
    (2, "one two three four five six seven"),
    (3, ""),           # zero tokens
    (4, "word"),       # one token -> zero bigrams
    (5, "a b a b a b a b"),
]


def _brute_rep(text: str, n: int = 2):
    toks = [t for t in text.lower().split() if t]
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    c = Counter(grams)
    top = max(c.values()) if c else 0
    return {
        "n_tokens": len(toks),
        "n_ngrams": len(grams),
        "n_distinct_ngrams": len(set(grams)),
        "top_ngram_count": top,
        "top_ngram_frac": top / len(grams) if grams else None,
        "dup_ngram_frac": (len(grams) - len(set(grams))) / len(grams)
        if grams else None,
        "unique_token_ratio": len(set(toks)) / len(toks) if toks else None,
    }


def test_repetition_features_match_bruteforce(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_features(df).collect()}
    for doc_id, text in DOCS:
        want = _brute_rep(text)
        for k, v in want.items():
            g = got[doc_id][k]
            if v is None:
                assert g is None, (doc_id, k, g)
            elif isinstance(v, float):
                assert g is not None and abs(g - v) < 1e-12, (doc_id, k, g, v)
            else:
                assert g == v, (doc_id, k, g, v)


def test_stopword_ratio(spark):
    df = spark.createDataFrame(
        [(0, "the cat is in the hat"), (1, "zebra xylophone quark"), (2, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["r"] for r in df.select(
        "doc_id", stopword_ratio("text").alias("r")).collect()}
    assert abs(rows[0] - 4 / 6) < 1e-12  # the, is, in, the
    assert rows[1] == 0.0
    assert rows[2] is None
    assert "the" in EN_STOPWORDS


def test_grouped_topk_exactly_k_per_group(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (F.col("o_custkey") % 5).alias("grp"),
    ).repartition(7)  # several map partitions feed the partial group limit
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    top = grouped_topk(orders, ["grp"], order, k=4)
    # exactly k rows per group, ranks 1..k
    ranks: dict = {}
    for r in top.select("grp", "rank").collect():
        ranks.setdefault(r["grp"], []).append(r["rank"])
    assert sorted(ranks) == list(range(5))
    assert all(sorted(v) == [1, 2, 3, 4] for v in ranks.values())


def test_global_cumsum_matches_single_window(spark):
    import random

    rng = random.Random(7)
    rows = [(f"k{i:04d}", rng.randint(0, 100)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string, v int").repartition(9)
    got = global_cumsum(df, "k", "v", out_col="cum", num_partitions=6)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.select("k", "cum").collect())) == \
        sorted(map(tuple, want.select("k", "cum").collect()))


def test_global_cumsum_bucketed_matches_single_window(spark):
    df = (
        spark.range(400)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            (F.col("id") % 13).cast("int").alias("v"),
        )
        .repartition(5)
    )
    bucket = F.conv(F.substring("k", 1, 1), 16, 10).cast("int")
    got = global_cumsum(df, "k", "v", out_col="cum", bucket=bucket)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.select("k", "cum").collect())) == \
        sorted(map(tuple, want.select("k", "cum").collect()))


def test_chunk_tokens_shapes_and_edges(spark):
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(12))),  # 12 toks -> 3 chunks of 5,5,2
         (1, "a b c"),                                # 1 chunk of 3
         (2, ""),                                     # no chunks
         (3, " ".join(f"t{i}" for i in range(10)))],  # exact multiple -> 2 chunks
        "doc_id long, text string",
    )
    out = chunk_tokens(df, "text", chunk_size=5).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[0], key=lambda r: r["chunk_idx"])] == [5, 5, 2]
    assert [r["n_chunk_tokens"] for r in by_doc[1]] == [3]
    assert 2 not in by_doc
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[3], key=lambda r: r["chunk_idx"])] == [5, 5]
    # chunk hashes are distinct across the token stream
    assert len({r["chunk_hash"] for r in by_doc[0]}) == 3


def test_grouped_percentiles_disc_match_sorted_selection(spark):
    import random

    from chemharmony_spark.operators.core import grouped_percentiles_disc

    rng = random.Random(11)
    rows = [(f"g{i % 3}", rng.uniform(0, 100)) for i in range(301)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in
           grouped_percentiles_disc(df, ["g"], "v", [0.5, 0.9, 0.99]).collect()}
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            want = vs[max(1, math.ceil(q * len(vs))) - 1]
            assert got[g][name] == want, (g, name)


def test_redact_pii_semantics(spark):
    from chemharmony_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at jo.doe+x@ex-ample.org or visit https://a.io/x?q=1"),
            (1, "call +1 (555) 123-4567 today"),
            (2, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df, "text").collect()}
    assert rows[0]["n_email"] == 1 and rows[0]["n_url"] == 1
    assert rows[0]["redacted"] == "mail me at <EMAIL> or visit <URL>"
    assert rows[1]["n_phone"] == 1 and "<PHONE>" in rows[1]["redacted"]
    assert rows[2]["redacted"] == rows[2]["text"]
    assert rows[2]["n_email"] == rows[2]["n_url"] == rows[2]["n_phone"] == 0


def test_funnel_and_retention_on_synthetic_events(spark, sf_dir, tmp_path):
    # hand-built event log with known funnel truth:
    # u1 completes view->click->purchase in order; u2 clicks BEFORE their
    # first view (must not count); u3 views only.
    rows = [
        (1, 1_000, "signup"), (1, 2_000, "view"), (1, 3_000, "click"),
        (1, 4_000, "purchase"),
        (2, 1_000, "click"), (2, 2_000, "view"),
        (3, 1_000, "view"),
    ]
    import pandas as pd

    p = str(tmp_path / "events.parquet")
    pd.DataFrame(
        [(uid, pd.Timestamp(us, unit="us"), t) for uid, us, t in rows],
        columns=["user_id", "ts", "event_type"],
    ).astype({"ts": "datetime64[us]"}).assign(
        event_id=range(len(rows)), value=1.0, props="{}"
    ).to_parquet(p)

    # ts reads as TIMESTAMP_NTZ under PySpark 4.x — same micros arithmetic
    # as the real queries via unix_micros
    ev = spark.read.parquet(p).withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).select("user_id", "event_type", "us")
    t1 = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("us").alias("t_view"))
    t2 = (ev.where(F.col("event_type") == "click").join(t1, "user_id")
          .where(F.col("us") >= F.col("t_view")).groupBy("user_id")
          .agg(F.min("us").alias("t_click")))
    t3 = (ev.where(F.col("event_type") == "purchase").join(t2, "user_id")
          .where(F.col("us") >= F.col("t_click")).groupBy("user_id")
          .agg(F.min("us").alias("t_purchase")))
    assert t1.count() == 3 and t2.count() == 1 and t3.count() == 1
    assert t3.collect()[0]["user_id"] == 1


def test_group_centroid_cosine_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    labels = [i % 4 for i in range(40)]
    rows = [(i, labels[i], [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = {r["vec_id"]: r["cos_micro"] for r in
           group_centroid_cosine(df, "label", "vec_id", "embedding").collect()}
    q = np.floor(vecs.astype("float64") * 1_000_000)
    for i in range(40):
        mates = q[[j for j in range(40) if labels[j] == labels[i]]]
        c = mates.sum(axis=0)
        cos = float(q[i] @ c / (math.sqrt(q[i] @ q[i]) * math.sqrt(c @ c)))
        assert abs(got[i] - math.floor(cos * 1_000_000)) <= 1, (i, got[i], cos)


def test_hash_split_deterministic_disjoint_proportioned(spark):
    from chemharmony_spark.operators.core import hash_split

    df = spark.range(10_000).select(F.col("id").alias("k"))
    split = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150
    assert abs(counts["test"] - 1000) < 150
    # stable across partitioning and repeated evaluation
    a = sorted(map(tuple, split.select("k", "split").collect()))
    b = sorted(map(tuple,
                   hash_split(df.repartition(13), "k",
                              {"train": 0.8, "val": 0.1, "test": 0.1})
                   .select("k", "split").collect()))
    assert a == b
    # same key -> same split even across duplicate rows
    dup = df.union(df)
    n_distinct = (hash_split(dup, "k", {"train": 0.5, "test": 0.5})
                  .select("k", "split").distinct().count())
    assert n_distinct == 10_000


def test_prefix_filter_complete_vs_allpairs(spark):
    """Prefix filtering is lossless for its threshold: every pair with
    Jaccard >= t appears in the candidate set (pigeonhole guarantee),
    and the candidate count is far below all-pairs."""
    from chemharmony_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    import random
    rng = random.Random(9)
    vocab = [f"w{i:03d}" for i in range(60)]
    docs = []
    for i in range(40):
        base = rng.sample(vocab, 12)
        docs.append((i, " ".join(base)))
        if i % 4 == 0:  # planted near-dup: one token swapped
            mod = list(base)
            mod[0] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mod)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    t = 0.6
    cands = prefix_filter_pairs(df, "doc_id", "text", threshold=t)
    verified = jaccard_pairs(df, cands, "doc_id", "text")
    got = {(r["a"], r["b"]) for r in
           verified.where(F.col("jaccard") >= t).collect()}

    ids = [d[0] for d in docs]
    all_pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:] if a < b]
        + [(b, a) for i, a in enumerate(ids) for b in ids[i + 1:] if b < a],
        "a long, b long",
    )
    truth = {(r["a"], r["b"]) for r in
             jaccard_pairs(df, all_pairs, "doc_id", "text")
             .where(F.col("jaccard") >= t).collect()}
    assert got == truth and len(truth) >= 10
    # the filter actually filters
    n_all = all_pairs.count()
    assert cands.count() < n_all / 2, (cands.count(), n_all)


def test_weighted_sample_is_weighted_and_deterministic(spark):
    """E-S hash sampling: per-draw determinism in Spark; weighting law
    validated in pure Python over 400 salts (the key formula is a pure
    function of (salt, id, weight), identical in any engine)."""
    import hashlib
    import math

    from chemharmony_spark.operators.core import weighted_sample

    rows = [(f"g", i, float(w)) for i, w in enumerate([1, 1, 1, 1, 10, 10])]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    a = sorted(r["id"] for r in
               weighted_sample(df, ["g"], "w", "id", k=2).collect())
    b = sorted(r["id"] for r in
               weighted_sample(df.repartition(5), ["g"], "w", "id", k=2)
               .collect())
    assert a == b  # partitioning-invariant draw

    # weighting law: items 4,5 (weight 10) must win far more often than
    # weight-1 items across independent salts
    wins = [0] * 6
    weights = [1, 1, 1, 1, 10, 10]
    for s in range(400):
        keys = []
        for i, w in enumerate(weights):
            h = int(hashlib.md5(f"s{s}:{i}".encode()).hexdigest()[:8], 16)
            u = (h + 1) / (2**32 + 1)
            keys.append((math.log(u) / w, i))
        for _, i in sorted(keys, reverse=True)[:2]:
            wins[i] += 1
    heavy = wins[4] + wins[5]
    light = sum(wins[:4])
    assert heavy > 3 * light, wins


def test_token_entropy_matches_manual(spark):
    import math
    from collections import Counter

    from chemharmony_spark.operators.text import token_entropy

    rows = [
        (0, "a a a a"),                       # H = 0
        (1, "a b c d"),                       # H = ln 4
        (2, "a a b b c c"),                   # H = ln 3
        (3, ""),                              # null
        (4, "the cat sat on the mat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["h"] for r in
           df.select("doc_id", token_entropy("text").alias("h")).collect()}
    for doc_id, text in rows:
        toks = [t for t in text.split() if t]
        if not toks:
            assert got[doc_id] is None
            continue
        c = Counter(toks)
        n = len(toks)
        want = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert abs(got[doc_id] - want) < 1e-12, (doc_id, got[doc_id], want)
    assert abs(got[0]) < 1e-12 and abs(got[1] - math.log(4)) < 1e-12


def test_hopping_window_conserves_counts(spark, sf_dir):
    """Every event lands in exactly windowDuration/slideDuration = 4
    hopping windows, so the window-count total is 4x the event count and
    each window's start sits on the 15-minute epoch grid."""
    from chemharmony_spark import queries as Q

    out = Q.q137_hopping_window(spark, sf_dir).collect()
    n_events = Q._events(spark, sf_dir).count()
    assert sum(r.n for r in out) == 4 * n_events
    assert all(r.window_start_us % (15 * 60 * 1_000_000) == 0 for r in out)


def test_bm25_scores_rank_term_rich_docs(spark, sf_dir):
    """BM25 invariants: 20 rows, scores non-increasing, every returned
    doc matched at least one of the 5 query terms."""
    from chemharmony_spark import queries as Q

    rows = Q.q134_bm25_topk(spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r.score_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r.n_terms <= 5 for r in rows)


def test_dsir_weights_favor_target_lang(spark, sf_dir):
    """The importance weight is a log-likelihood ratio toward the target
    (lang='en') hashed-unigram model — the MEAN per-token weight of
    English docs must exceed that of non-English docs, and every doc in
    the corpus gets exactly one row."""
    from chemharmony_spark import queries as Q

    rows = Q.q135_dsir_weights(spark, sf_dir).collect()
    docs = Q._t(spark, sf_dir, "documents")
    n_docs_with_tokens = docs.where("trim(text) <> ''").count()
    assert len(rows) == n_docs_with_tokens
    en = [r.weight_micro / r.n_tokens for r in rows if r.lang == "en"]
    other = [r.weight_micro / r.n_tokens for r in rows if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_split_leakage_audit_shape(spark, sf_dir):
    """One row per non-train split; leaked counts bounded by split size;
    ppm consistent with the integer division."""
    from chemharmony_spark import queries as Q

    rows = {r.split: r for r in
            Q.q136_split_leakage_audit(spark, sf_dir).collect()}
    assert set(rows) == {"val", "test"}
    for r in rows.values():
        assert 0 <= r.n_leaked <= r.n_docs
        assert r.leaked_ppm == r.n_leaked * 1_000_000 // r.n_docs


def test_user_features_consistency(spark, sf_dir):
    """Feature invariants: spans/purchase counts/ppm rates consistent
    with the raw per-user event lists."""
    from collections import defaultdict

    from chemharmony_spark import queries as Q

    got = {r.user_id: r for r in Q.q158_user_features(spark, sf_dir).collect()}
    ev = defaultdict(list)
    for r in Q._events(spark, sf_dir).select(
            "user_id", "event_type", Q.F.expr("ts div 1000").alias("us")
    ).collect():
        ev[r.user_id].append((r.us, r.event_type))
    for uid, rows in ev.items():
        g = got[uid]
        assert g.n_events == len(rows)
        assert g.span_us == max(u for u, _ in rows) - min(u for u, _ in rows)
        assert g.n_purchases == sum(1 for _, t in rows if t == "purchase")
        days = {u // 86_400_000_000 for u, _ in rows}
        assert g.active_days == len(days)
        assert g.events_per_day_ppm == len(rows) * 1_000_000 // len(days)


def test_langid_confusion_covers_corpus(spark, sf_dir):
    """Cell counts sum to the corpus size; per-actual shares sum to ~1e6."""
    from collections import defaultdict

    from chemharmony_spark import queries as Q

    rows = Q.q159_langid_confusion(spark, sf_dir).collect()
    n_docs = Q._t(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    per_actual = defaultdict(int)
    for r in rows:
        per_actual[r.actual] += r.share_ppm
    for actual, s in per_actual.items():
        assert 1_000_000 - 10 <= s <= 1_000_000, actual


def test_lsh_recall_audit_invariants(spark, sf_dir):
    """Verified LSH hits are a subset of ground truth (same threshold),
    so n_found == n_lsh_verified <= min(n_true, n_lsh_candidates)."""
    from chemharmony_spark import queries as Q

    r = Q.q160_lsh_recall_audit(spark, sf_dir).collect()[0]
    assert r.n_found == r.n_lsh_verified
    assert r.n_lsh_verified <= r.n_lsh_candidates
    assert r.n_found <= r.n_true
    assert r.recall_ppm == r.n_found * 1_000_000 // r.n_true


def test_cross_perplexity_in_domain_scores_higher(spark, sf_dir):
    """Reference-domain sources average a higher per-token log-prob than
    the rest, and every doc with tokens gets exactly one row."""
    from chemharmony_spark import queries as Q

    rows = Q.q165_cross_perplexity(spark, sf_dir).collect()
    n_docs = Q._t(spark, sf_dir, "documents").where(
        "trim(text) <> ''").count()
    assert len(rows) == n_docs
    ref = [r.logprob_micro / r.n_tokens for r in rows
           if r.source in ("src0", "src1", "src2", "src3", "src4")]
    other = [r.logprob_micro / r.n_tokens for r in rows
             if r.source not in ("src0", "src1", "src2", "src3", "src4")]
    assert ref and other
    assert sum(ref) / len(ref) > sum(other) / len(other)


def test_vocab_overlap_bounds(spark, sf_dir):
    from chemharmony_spark import queries as Q

    rows = Q.q166_vocab_overlap(spark, sf_dir).collect()
    for r in rows:
        assert r.src_a < r.src_b
        assert 0 < r.n_shared <= min(r.na, r.nb)
        assert r.jaccard_ppm == r.n_shared * 1_000_000 // (
            r.na + r.nb - r.n_shared)


def test_readability_reference(spark, sf_dir):
    """flesch_milli equals the python formula on the same token stream."""
    import math
    import re

    from chemharmony_spark import queries as Q

    rows = Q.q169_readability(spark, sf_dir).collect()
    docs = {r.doc_id: r.text
            for r in Q._t(spark, sf_dir, "documents").collect()}
    for r in rows[:100]:
        text = docs[r.doc_id]
        norm = re.sub(r" +", " ",
                      re.sub(r"[^a-z0-9 ]", "", text.lower())).strip()
        toks = [t for t in norm.split(" ") if t]
        n_words = len(toks)
        n_sents = max(1, len(re.findall(r"[.!?]+", text)))
        syl = sum(max(1, len(re.findall(r"[aeiouy]+", t))) for t in toks)
        assert (r.n_words, r.n_sents, r.n_syllables) == (
            n_words, n_sents, syl)
        score = 206.835 - 1.015 * (n_words / n_sents) - 84.6 * (syl / n_words)
        assert r.flesch_milli == math.floor(score * 1000)


def test_boilerplate_shares_bounded(spark, sf_dir):
    from chemharmony_spark import queries as Q

    rows = Q.q172_boilerplate_lines(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_sents
        assert r.boiler_ppm == r.n_boiler * 1_000_000 // r.n_sents


def test_lsh_bucket_skew_consistent_with_candidates(spark, sf_dir):
    """Candidate-pair volume ties out with the signature table."""
    from collections import Counter

    from chemharmony_spark import queries as Q
    from chemharmony_spark.operators import dedup as DD

    rows = {r.band: r for r in
            Q.q179_lsh_bucket_skew(spark, sf_dir).collect()}
    sig = DD.minhash_signatures(
        Q._t(spark, sf_dir, "documents"), "doc_id", "text").collect()
    buckets = Counter((s.band, s.minhash) for s in sig)
    for band in rows:
        cs = [c for (b, _), c in buckets.items() if b == band]
        r = rows[band]
        assert r.n_buckets == len(cs)
        assert r.max_bucket == max(cs)
        assert r.n_candidate_pairs == sum(c * (c - 1) // 2 for c in cs)


def test_zipf_slope_negative_and_steep(spark, sf_dir):
    """Token frequencies decay with rank: slope strictly negative."""
    from chemharmony_spark import queries as Q

    r = Q.q181_zipf_fit(spark, sf_dir).collect()[0]
    assert r.n >= 10  # sf0.001's synthetic vocabulary is small
    assert r.slope_micro < 0


def test_cross_source_dups_symmetric_rollup(spark, sf_dir):
    """Pair counts sum to the verified near-dup pair total."""
    from chemharmony_spark import queries as Q
    from chemharmony_spark.operators import dedup as DD

    rows = Q.q182_cross_source_dups(spark, sf_dir).collect()
    docs = Q._t(spark, sf_dir, "documents")
    sig = DD.minhash_signatures(docs, "doc_id", "text").persist()
    n_hits = (
        DD.jaccard_pairs(docs, DD.lsh_candidate_pairs(sig),
                         "doc_id", "text")
        .where(Q.F.col("jaccard") >= 0.8).count()
    )
    assert sum(r.n_dup_pairs for r in rows) == n_hits
    for r in rows:
        assert r.src_a <= r.src_b


def test_prefix_and_jaccard_tokens_col_parity(spark):
    """The shared-tokenization fast path (tokens_col=) must produce the
    SAME verified pairs as the text path — prefix selection may differ
    (hashed longs order differently than strings; any total token order
    is valid for PPJoin), but verify output is order-independent."""
    from pyspark.sql import functions as F

    from chemharmony_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )
    from chemharmony_spark.operators.text import tokens

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different document entirely here"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "quick brown fox jumps over lazy dog today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h60 = lambda w: F.conv(  # noqa: E731
        F.substring(F.md5(w), 1, 15), 16, 10
    ).cast("long")
    tok = df.select(
        "doc_id",
        F.transform(F.array_distinct(tokens("text")), h60).alias("ws"),
    )

    def verified(cands, source, **kw):
        out = jaccard_pairs(source, cands, "doc_id", "text", **kw)
        return {
            (r.a, r.b)
            for r in out.where(F.col("jaccard") >= 0.6).collect()
        }

    base = verified(
        prefix_filter_pairs(df, "doc_id", "text", threshold=0.6), df
    )
    fast = verified(
        prefix_filter_pairs(
            tok, "doc_id", "text", threshold=0.6, tokens_col="ws"
        ),
        tok,
        tokens_col="ws",
    )
    assert base == fast and len(base) >= 3


def test_percentile_family_ignores_null_values(spark):
    """SQL percentile semantics: NULL values neither count toward n nor
    occupy a rank slot (pre-fix they bucketed into the top cell and
    shifted every rank)."""
    from chemharmony_spark.operators.core import (
        grouped_percentile_cont,
        grouped_percentiles_disc,
    )

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", None),
         ("allnull", None)],
        "k string, v double",
    )
    got = grouped_percentiles_disc(df, ["k"], "v", [0.5]).collect()
    assert len(got) == 1 and got[0]["k"] == "g"  # all-NULL group: no row
    # n=4 (NULL ignored): ceil(0.5*4)=2 -> value 2.0; with the NULL
    # counted it would be ceil(0.5*5)=3 -> 3.0... but worse, the NULL
    # inflates cum so the pre-fix answer drifted with data layout
    assert got[0]["p50"] == 2.0
    cont = grouped_percentile_cont(df, ["k"], "v", [("p50", 1, 2)]).collect()
    assert len(cont) == 1 and cont[0]["k"] == "g"
    assert cont[0]["p50"] == 2.5  # interpolated over 4 non-null values


def test_text_ops_r5_edge_semantics(spark):
    """r5 review batch: newline/tab tokenization, empty-string alnum,
    langid abstain, winnowing short-doc fallback, Gopher char-fraction."""
    from chemharmony_spark.operators.text import (
        alnum_ratio,
        langid_scores,
        repetition_features,
        token_count,
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "hello\nworld foo\tbar"), (2, ""), (3, "the\nand of is"),
         (4, "!!! ???"), (5, "abcdef"), (6, "abcdef"),
         (7, "spam spam spam spam ok")],
        "doc_id long, text string",
    )
    # newlines/tabs are token separators, not deleted
    tc = {r.doc_id: r.n for r in df.select(
        "doc_id", token_count("text").alias("n")).collect()}
    assert tc[1] == 4 and tc[3] == 4
    # empty text: NULL ratio, not a DIVIDE_BY_ZERO crash under ANSI
    ar = {r.doc_id: r.a for r in df.select(
        "doc_id", alnum_ratio("text").alias("a")).collect()}
    assert ar[2] is None and ar[1] is not None
    # abstain: zero-marker docs are 'und', never the alphabetically
    # first language; full-stopword English stays 'en'
    lang = {r.doc_id: r.pred_lang for r in langid_scores(df).collect()}
    assert lang[3] == "en" and lang[4] == "und" and lang[2] == "und"
    # identical short docs share a fingerprint (old code: empty sets)
    fps = {r.doc_id: r.fps for r in
           winnowing_fingerprints(df, "text").collect()}
    assert fps[5] and fps[5] == fps[6]
    # char fraction: 'spam spam' bigram occurs 3x, len 9; norm len 22
    rep = {r.doc_id: r for r in repetition_features(df).collect()}
    r7 = rep[7]
    assert r7.top_ngram_count == 3
    assert abs(r7.top_ngram_char_frac - 3 * 9 / 22) < 1e-12


def test_connected_components_selfloop_and_convergence_parity(spark):
    """r5 review: self-loop-only nodes are singletons in BOTH CC variants
    (star dropped them); min-label raises on non-convergence instead of
    returning partial labels."""
    import pytest

    from chemharmony_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7), (4, 5), (3, 3)], "src long, dst long"
    )
    want = sorted(map(tuple, connected_components(edges).collect()))
    assert (7, 7) in want
    for kw in ({}, {"pre_contract": True}, {"driver_finish_cap": 100}):
        got = sorted(map(tuple,
                         connected_components_star(edges, **kw).collect()))
        assert got == want, kw
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iter=5)


def test_connected_components_star_self_loops_absent_mode(spark):
    """self_loops='absent' (the a < b caller contract): identical result
    on a loop-free graph, WITHOUT the extra edge-set pass — asserted by
    plan shape (no anti-join at read-off) — and a loud error on a bogus
    mode string."""
    import pytest

    from chemharmony_spark.operators.graph import connected_components_star

    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    want = sorted(
        map(tuple, connected_components_star(clean).collect())
    )
    for kw in ({}, {"pre_contract": True}, {"driver_finish_cap": 100}):
        got = sorted(map(tuple, connected_components_star(
            clean, self_loops="absent", **kw).collect()))
        assert got == want, kw
    # the absent path must not append the anti-join/union stage
    plan = connected_components_star(
        clean, self_loops="absent", driver_finish_cap=100
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Join LeftAnti" not in plan
    with pytest.raises(ValueError, match="self_loops"):
        connected_components_star(clean, self_loops="drop")


def test_jaccard_ge_matches_ratio_form_and_guards_empty_sets(spark):
    """r10 (r9 verdict hygiene): the integer-form threshold helper must be
    unconditionally equivalent to the ratio form — including the
    na=nb=0 corner the hand-written r9 literals got wrong (ratio NULL ->
    row dropped; unguarded integer form 0>=0 -> row kept) — and must
    derive the audited coefficients from the float thresholds."""
    from fractions import Fraction

    from chemharmony_spark.operators.dedup import jaccard_ge

    # the audited coefficient pairs: t -> ((q+p), p)
    for t, qp, p in ((0.6, 8, 3), (0.7, 17, 7), (0.8, 9, 4), (0.9, 19, 9)):
        frac = Fraction(t).limit_denominator(1000)
        assert (frac.denominator + frac.numerator, frac.numerator) == (qp, p)

    rows = []
    # exhaustive small grid incl. the empty-set corner
    for na in range(0, 7):
        for nb in range(0, 7):
            for n in range(0, min(na, nb) + 1):
                rows.append((n, na, nb))
    df = spark.createDataFrame(rows, "n_inter int, na int, nb int")
    for t in (0.6, 0.7, 0.8):
        got = sorted(map(tuple, df.where(jaccard_ge(t)).collect()))
        # reference semantics computed exactly in Python rationals: the
        # union-empty pair has an undefined (NULL) jaccard -> dropped.
        # (Under ANSI mode the in-engine ratio form would ERROR on that
        # pair — one more reason the guarded integer form is the one
        # that belongs in the engine.)
        want = sorted(
            (n, na, nb) for (n, na, nb) in rows
            if na + nb > 0 and Fraction(n, na + nb - n) >= Fraction(t).limit_denominator(1000)
        )
        assert got == want, t
    # the guard: the (0,0,0) pair is dropped, as the ratio form drops it
    assert df.where(jaccard_ge(0.6)).where("na = 0 and nb = 0").count() == 0
