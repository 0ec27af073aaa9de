"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

First-class components of a 100 TB training-data pipeline. Design:

- **exact**: fingerprint (md5 of normalized text) -> hash groupBy. One
  shuffle on the fingerprint; at scale this is the cheapest possible dedup
  (map-side partial agg collapses most duplicates before the shuffle).
- **MinHash+LSH**: shingle -> per-band min-hash -> band-bucket self-join.
  The signature step is explode + groupBy (shuffle keyed by (doc, band) —
  uniform by construction). The candidate join shuffles on (band, minhash)
  — buckets are the only skew risk; AQE skew-split handles hot buckets.
  Only candidate pairs ever get exact Jaccard — the quadratic step is
  confined to bucket-local pairs.
- **SimHash**: 16-bit signature from per-token hash bits; near-dup = equal
  (or Hamming-close) signatures. Pure expressions.

Everything uses md5 as the hash family (portable, deterministic across
engines) — band b's hash of shingle s is md5(b || ':' || s).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chemharmony_spark.operators.text import fingerprint, tokens

from chemharmony_spark.cache import registered_persist


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by content fingerprint; keep min id as the keeper."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def word_shingles(words: Column, k: int = 3) -> Column:
    """k-word shingles from a *materialized* words array column.

    Takes a Column (not a text name) so the expensive tokenization runs once
    per row — passing ``tokens(text)`` inline would re-evaluate the regex
    chain for every element access inside the lambda (no CSE across lambda
    scopes; this was a measured 20x slowdown).
    """
    n = F.size(words)
    idx = F.sequence(F.lit(0), n - k)  # empty when n < k
    return F.when(
        n >= k,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_bands: int = 4, k: int = 3) -> DataFrame:
    """(id, band, minhash): per band b, min over shingles of md5(b||':'||s).

    Fully shuffle-free: the per-band minimum is ``array_min`` over a mapped
    shingle array (narrow, codegen), then the band columns unpivot to long.
    At 100 TB this runs at scan speed — no explode blowup, no groupBy; docs
    with fewer than k words drop out (array_min(empty) -> null -> unpivot
    drops nulls). r9: the input is spread to core width first (no-op at
    scale; see hints.spread_scan) — the 4-band md5 pass is the hot loop
    and a single-row-group fixture file otherwise serializes it.
    """
    from chemharmony_spark.hints import spread_scan

    df = spread_scan(df)
    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__words")
    ).withColumn("__shingles", word_shingles(F.col("__words"), k))
    def _band_hash(b: int):
        # NB: the returned lambda must be unary — PySpark dispatches on lambda
        # arity, and a second (defaulted) parameter would receive the element
        # index instead of the intended closure value
        return lambda s: F.md5(F.concat_ws(":", F.lit(str(b)), s))

    band_cols = [
        F.array_min(F.transform(F.col("__shingles"), _band_hash(b))).alias(f"__b{b}")
        for b in range(n_bands)
    ]
    wide = staged.select("id", *band_cols)
    long = wide.unpivot(
        ["id"], [f"__b{b}" for b in range(n_bands)], "band_name", "minhash"
    ).where(F.col("minhash").isNotNull())
    return long.select(
        "id",
        F.regexp_replace("band_name", "__b", "").cast("int").alias("band"),
        "minhash",
    )


def cap_buckets(df: DataFrame, keys: list[str],
                max_bucket_size: int | None) -> DataFrame:
    """Drop rows whose bucket (the ``keys`` group) holds more than
    ``max_bucket_size`` rows — the shared fat-bucket guard for every
    banded candidate generator (a bucket of n rows proposes n(n-1)/2
    pairs; an over-shared key is non-discriminative, the LSH analogue of
    a stop word). ``None`` disables the cap."""
    if max_bucket_size is None:
        return df
    sizes = df.groupBy(*keys).count()
    keep = sizes.where(F.col("count") <= max_bucket_size).select(*keys)
    return df.join(keep, on=keys, how="left_semi")


def lsh_candidate_pairs(signatures: DataFrame,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Docs sharing any (band, minhash) bucket -> distinct candidate pairs
    (a < b). The self-join shuffles on the bucket key only.

    ``max_bucket_size`` drops buckets larger than the cap before pairing —
    the standard guard against quadratic blowup on fat buckets (a bucket of
    n docs yields n(n-1)/2 pairs; a minhash shared by thousands of docs is
    non-discriminative, the LSH analogue of a stop word). Measured on a
    synthetic 100k near-dup corpus: uncapped -> 17.8M candidate pairs;
    without a cap the downstream exact Jaccard dominates the job.
    """
    signatures = cap_buckets(signatures, ["band", "minhash"], max_bucket_size)
    left = signatures.select("band", "minhash", F.col("id").alias("a"))
    right = signatures.select("band", "minhash", F.col("id").alias("b"))
    return (
        left.join(right, on=["band", "minhash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(df: DataFrame, candidates: DataFrame, id_col: str,
                  text_col: str, broadcast_docs: bool = False,
                  hash_tokens: bool = True,
                  tokens_col: str | None = None) -> DataFrame:
    """Exact word-set Jaccard for candidate pairs.

    Array-native plan: each doc's distinct token set is one array column
    (narrow, no shuffle), the candidate table joins to it twice, and the
    intersection is ``array_intersect`` inside codegen. Versus the
    (id, word) long-table formulation this removes the explode+distinct
    shuffle and the per-pair groupBy — at sf0.1 it collapses q36 from five
    stages to the candidate join alone. Docs with an empty token set are
    dropped first (an inner-join convention the long-table plan implied).

    The two token-set joins are plain shuffled equi-joins by default —
    the token frame is CORPUS-sized (one row per doc), so an explicit
    broadcast hint would force shipping the whole corpus's token arrays
    to every executor at 100x scale. At bench scale AQE converts the
    join to a broadcast-hash join at runtime anyway (the frame is under
    the adaptive threshold), so the hint buys nothing the optimizer
    doesn't already do; ``broadcast_docs=True`` forces the hint for
    callers that KNOW the doc universe is bounded (e.g. an already
    limited candidate id set). NOTE: the default flipped True -> False
    in round 4 — external callers relying on the old forced hint now
    get the AQE-decided join (same results, safer plan).

    Tokens are pre-hashed to 64-bit longs (``xxhash64`` — one JVM hash
    per token; the md5-hex + base-conversion this replaced cost ~1.6x
    more per corpus pass) ONCE per doc before the candidate join, so
    every per-candidate intersection compares longs instead of
    re-hashing both docs' full string arrays — a doc that appears in k
    candidate pairs has its tokens string-hashed once, not k times
    (measured ~2.5x on a 9.5M-candidate near-dup-heavy corpus). The
    hash values never reach any output (results are counts/ratios of
    the sets), so no oracle depends on the scheme; counts are unchanged
    unless two distinct tokens collide in 64 bits (P ≈ |vocab|²/2^65 —
    negligible below ~1e8 tokens; pass ``hash_tokens=False`` to
    intersect raw strings for vocabularies past that).

    ``tokens_col`` names a pre-built DISTINCT-token array column (hashed
    or not — pass what the intersection should compare) used verbatim
    instead of tokenizing+hashing ``text_col``: the shared-tokenization
    fast path. The frame is used as-is, NOT re-persisted — the caller
    owns the cache (it usually persisted the token table already for the
    candidate stage).
    """
    if tokens_col is not None:
        toks = df.select(
            F.col(id_col).alias("id"), F.col(tokens_col).alias("ws")
        ).where(F.size("ws") > 0)
        return _jaccard_from_tokens(toks, candidates, broadcast_docs)
    # lambda wrapper: xxhash64 is variadic, so the bare function can't be
    # used as a higher-order-function argument
    hcol = (lambda w: F.xxhash64(w)) if hash_tokens else (lambda w: w)
    # r9: spread the scan before the tokenize+hash pass (no-op at scale)
    from chemharmony_spark.hints import spread_scan

    df = spread_scan(df)
    # persisted (registry-released, cache.release_caches): the token
    # build (normalize + shingle + per-token xxhash64) feeds BOTH join
    # sides; without the cache each side re-derives it from the scan
    toks = registered_persist(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.array_distinct(tokens(text_col)), hcol
            ).alias("ws"),
        ).where(F.size("ws") > 0)
    )
    return _jaccard_from_tokens(toks, candidates, broadcast_docs)


def _jaccard_from_tokens(toks: DataFrame, candidates: DataFrame,
                         broadcast_docs: bool) -> DataFrame:
    """Candidate verify over a ready (id, ws) distinct-token-array frame."""
    hint = F.broadcast if broadcast_docs else (lambda d: d)
    ta = hint(toks.select(F.col("id").alias("a"), F.col("ws").alias("wa")))
    tb = hint(toks.select(F.col("id").alias("b"), F.col("ws").alias("wb")))
    return (
        candidates.join(ta, on="a")
        .join(tb, on="b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("wa", "wb")).alias("n_inter"),
            F.size("wa").alias("na"),
            F.size("wb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
    )


def jaccard_ge(threshold: float, n_inter: Column | str = "n_inter",
               na: Column | str = "na", nb: Column | str = "nb") -> Column:
    """Exact integer-form predicate for ``jaccard >= threshold`` over the
    (n_inter, na, nb) columns jaccard_pairs emits — evaluates the
    ``array_intersect`` ONCE per pair instead of twice (numerator and
    denominator of the ratio form; HOF lambdas get no CSE).

    Derivation: with p/q = threshold as an exact rational,
    ``n/(na+nb-n) >= p/q  <=>  (q+p)*n >= p*(na+nb)`` (the denominator
    ``na+nb-n >= max(na,nb)`` is positive whenever ``na+nb > 0``), so the
    predicate is ``(na+nb > 0) AND ((q+p)*n >= p*(na+nb))``. The guard
    makes the rewrite unconditionally equivalent to the ratio form —
    for ``na = nb = 0`` the ratio is NULL (row filtered), and so is the
    guarded form — rather than relying on candidate generators never
    emitting empty-set pairs (r9 verdict hygiene item).

    The rational is recovered from the float with
    ``Fraction.limit_denominator(1000)``: every threshold in use is a
    short decimal (0.6 -> 3/5, 0.7 -> 7/10, 0.8 -> 4/5), and the binary
    double sits within ~1e-16 of it, far under the 1/2000-ish resolution
    of denominators <= 1000, so the snap is exact. Equivalence of the
    integer form to ``>= double(threshold)`` additionally needs the
    minimum spacing of candidate jaccard rationals near p/q —
    ``1/(q*(na+nb-n))`` — to exceed |p/q - double|: holds for set sizes
    up to ~1e12 at these thresholds (the r9-verified half-ulp argument),
    far past any document's token count.

    Deriving the coefficients from the SAME ``threshold`` variable the
    candidate generator uses keeps the two in sync — the r9 hand-written
    ``8*n >= 3*(na+nb)`` literals desynced silently if ``t`` was edited.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1000)
    p, q = frac.numerator, frac.denominator
    n = F.col(n_inter) if isinstance(n_inter, str) else n_inter
    a = F.col(na) if isinstance(na, str) else na
    b = F.col(nb) if isinstance(nb, str) else nb
    return ((a + b) > F.lit(0)) & ((q + p) * n >= p * (a + b))


def token_hash16(word: Column) -> Column:
    """16-bit hash of a token: value of the first 4 hex chars of md5 —
    the engine-portable contract (the DuckDB oracle reproduces the same
    value with pure ANSI char arithmetic).

    r9: computed as one ``conv(substring(md5, 1, 4), 16, 10)`` instead of
    four per-char ``instr`` lookups. Same value for every input (md5
    output is always lowercase hex; property-checked against the old
    expression over the full corpus token set), but md5 is evaluated
    ONCE instead of four times — this runs inside higher-order-function
    lambdas (simhash16, winnowing), which are interpreted with no
    common-subexpression elimination across the four references, so the
    old form paid 4x the md5 cost (measured: the simhash hash transform
    dropped 1.10 s -> 0.71 s at sf0.1)."""
    return F.conv(F.substring(F.md5(word), 1, 4), 16, 10).cast("int")


def simhash16(df: DataFrame, id_col: str, text_col: str,
              carry: tuple[str, ...] = ()) -> DataFrame:
    """16-bit SimHash over the distinct token set of each document.

    bit j of the signature = 1 iff sum over tokens of (bit_j(hash16)*2 - 1)
    is positive. Computed array-native and entirely inside codegen: one
    ``transform`` materializes the per-token 16-bit hashes (md5 evaluated
    once per token), then 16 integer folds over that array build the
    signature — ZERO shuffles, versus the explode/distinct + two-groupBy
    formulation this replaced (3 shuffles and a 16x row blowup).

    ``carry`` columns ride along unchanged so callers (q45) don't need a
    join to re-attach metadata. Docs with an empty token set are dropped,
    matching the exploded formulation's inner-explode semantics.

    r9: input spread to core width (hints.spread_scan; no-op at scale) —
    the per-token md5 transform is the hot loop.
    """
    from chemharmony_spark.hints import spread_scan

    df = spread_scan(df)
    hs = df.select(
        F.col(id_col).alias("id"),
        *carry,
        F.transform(F.array_distinct(tokens(text_col)), token_hash16).alias("hs"),
    ).where(F.size("hs") > 0)

    # The 16 bit-folds are built as ONE SQL string instead of 16 nested
    # F.aggregate lambdas: the Python-side Column construction of the
    # lambda tree cost 0.53 s of py4j round-trips PER DataFrame build
    # (inside every bench/caller timing); the parsed string is the same
    # expression (verified value-identical over the corpus) and builds
    # in 0.10 s. Execution plan and results are unchanged.
    sig = " + ".join(
        f"(CASE WHEN aggregate(hs, CAST(0 AS BIGINT), (acc, h) -> "
        f"acc + (FLOOR(h / {1 << j}) % 2) * 2 - 1) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(16)
    )
    return hs.select("id", *carry, F.expr(sig).alias("simhash"))


def prefix_filter_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.6,
                        tokens_col: str | None = None) -> DataFrame:
    """PPJoin-style prefix-filtered candidates for Jaccard >= threshold
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW 2008 — public paper): order each doc's distinct tokens
    by ascending global frequency (rarest first), keep only the first
    |set| - ceil(t*|set|) + 1 tokens; any pair with Jaccard >= t MUST
    share a prefix token (pigeonhole on the overlap bound), so the
    candidate join touches rare tokens only — the high-threshold
    complement to MinHash LSH (exact recall, no bands to tune).

    Plan: one (id, token) explode + a vocabulary-frequency equi-join
    (plain — the vocabulary is corpus-unbounded, so AQE decides at
    runtime whether it fits a broadcast; at bench scale it does), one
    window for the in-doc frequency order, then the self-join on
    prefix tokens. The frequency ordering is what makes it cheap: prefixes
    are the RARE tokens, so join groups are small by construction (the
    opposite of the stop-word blowup a naive token join hits).

    On top of the prefix filter, the two other PPJoin prunes run INSIDE
    the candidate join (both are candidate-only — they can never drop a
    true pair, so verified outputs are unchanged):

    - **length filter**: Jaccard >= t forces min(|x|,|y|) >= t·max(|x|,|y|)
      — at t=0.6 a 10-token doc can never match a 30-token doc;
    - **positional filter**: a shared prefix token at in-doc positions
      (pa, pb) bounds the overlap by 1 + min(|x|-pa, |y|-pb), which must
      reach ceil(t/(1+t)·(|x|+|y|)) — kills pairs that share only a
      tail-of-prefix token. Both comparisons carry a 1e-9 slack so FP
      rounding can only ADMIT a borderline candidate, never drop one.

    At low thresholds (prefix ≈ (1-t)·|x| tokens) these two filters are
    the difference between a bounded candidate set and a quadratic one —
    measured 30x+ on the sf0.1 documents corpus at t=0.6.

    ``tokens_col`` names a pre-built DISTINCT-token array column to use
    instead of tokenizing ``text_col`` — the shared-tokenization fast
    path for pipelines that already carry the arrays (q123 tokenizes its
    corpus ONCE for collapse + candidates + verify). Any element type
    works (the PPJoin prefix bound holds for ANY total token order, so
    pre-hashed longs order differently than strings but verified pairs
    are identical — and the self-join keys on longs instead of strings).
    """
    from pyspark.sql.window import Window

    t = float(threshold)
    if tokens_col is not None:
        base = df.select(
            F.col(id_col).alias("id"), F.col(tokens_col).alias("ws")
        )
    else:
        # r9: spread the scan before tokenizing (no-op at scale); the
        # pre-built-tokens path is left alone — its input is usually a
        # persisted/derived frame, not a narrow scan
        from chemharmony_spark.hints import spread_scan

        base = spread_scan(df).select(
            F.col(id_col).alias("id"),
            F.array_distinct(tokens(text_col)).alias("ws"),
        )
    # set size comes off the array BEFORE the explode — one window
    # (frequency order), not two (the old per-id count window)
    words = base.select(
        "id", F.size("ws").alias("nw"), F.explode("ws").alias("w")
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ordered = words.join(freq, on="w").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "w")
        ),
    )
    prefix_len = F.col("nw") - F.ceil(F.lit(t) * F.col("nw")) + 1
    prefix = ordered.where(F.col("pos") <= prefix_len).select(
        "id", "w", "pos", "nw"
    )
    left = prefix.select(
        F.col("id").alias("a"), "w",
        F.col("pos").alias("pa"), F.col("nw").alias("na"),
    )
    right = prefix.select(
        F.col("id").alias("b"), "w",
        F.col("pos").alias("pb"), F.col("nw").alias("nb"),
    )
    o_min = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    )
    return (
        left.join(right, on="w")
        .where(
            (F.col("a") < F.col("b"))
            & (
                F.least("na", "nb").cast("double")
                >= F.lit(t) * F.greatest("na", "nb") - F.lit(1e-9)
            )
            & (
                1 + F.least(F.col("na") - F.col("pa"),
                            F.col("nb") - F.col("pb"))
                >= o_min
            )
        )
        .select("a", "b")
        .distinct()
    )


def edit_distance_pairs(df: DataFrame, id_col: str, text_col: str,
                        max_dist: int = 2) -> DataFrame:
    """Typo-join: all pairs whose strings are within Levenshtein distance
    ``max_dist`` — the short-string complement to the token-set joins above
    (entity keys, names, codes; NOT long documents).

    |len(a) - len(b)| > max_dist forces distance > max_dist, so the theta
    predicate becomes an EQUI-join: each row keys on its own length, one
    side replicates across its ±max_dist length neighborhood (2d+1 copies
    of a short-string column), and the JVM-side ``F.levenshtein`` verifies
    survivors. Join groups are length bands — at scale add a second
    blocking key (e.g. a character-frequency histogram prefix or the
    first character) to the equi-key to split fat bands; candidate count
    is Σ|band|·(2d+1), never n².

    Same banding as plans/labeler.py's uniqueness join (reference
    helper/magentic_label.py:11-12 does the O(n²) driver-side scan).
    Output canonicalized a < b with the measured distance.
    """
    base = df.select(F.col(id_col).alias("a"), F.col(text_col).alias("ta"),
                     F.length(text_col).alias("len"))
    fan = df.select(
        F.col(id_col).alias("b"), F.col(text_col).alias("tb"),
        F.explode(
            F.sequence(F.length(text_col) - max_dist,
                       F.length(text_col) + max_dist)
        ).alias("len"),
    )
    return (
        base.join(fan, on="len")
        .where(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .where(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )
