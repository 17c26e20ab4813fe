"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for 100 TB document corpora:

* **exact**: md5 over normalized text → one hash-aggregate. Partial
  aggregation makes the shuffle carry one row per distinct fingerprint.
* **n-gram Jaccard**: shingle-explode → self-join on shingle → pair counts.
  Exact but quadratic in the worst case — the *verification* step. At scale
  you never run it on the full corpus; you run MinHash-LSH to get candidate
  pairs, then verify only those.
* **MinHash**: K min-hash aggregates per document computed in ONE groupBy
  (no K-way explode). The K "permutations" are affine maps of a SINGLE
  md5-derived base hash — ``sig_k = min((a_k·h + b_k) mod P)`` with
  ``h = md5int60(shingle) mod P`` — the textbook universal-hashing
  scheme: one md5 per shingle instead of K, everything else integer
  arithmetic that any engine reproduces exactly (constants are
  md5-seeded, P = 2^31-1, products bounded < 2^63).
* **LSH banding**: signature split into bands; docs sharing a band-hash
  bucket become candidate pairs; exact Jaccard verifies candidates. The
  band-bucket self-join is an equi-join on (band_idx, band_hash) — fully
  shuffle-partitioned, no all-pairs blowup.
* **SimHash**: 60-bit sign-aggregated fingerprint (60 conditional-sum
  aggregates in one groupBy); near-pairs = hamming(xor) <= d, candidates
  found by banding the fingerprint into d+1 chunks (a hamming-<=d pair
  agrees exactly on >= 1 chunk... pigeonhole), verified by bit_count.

Everything is Catalyst expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gdutils_spark.session import scoped_conf

from .graph import _pinned_partitioned

DEFAULT_NUM_PERMS = 16
DEFAULT_BANDS = 4
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed int64


def normalize_text(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def _md5_int64(s: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative int64 (60 bits) —
    reproducible in any engine with md5 + hex parsing."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# the hash's domain size as a double, for [0, 1) normalizations — ONE
# definition (KMV estimator, priority sampling, and their SQL twins all
# divide by this; the power-of-two literal is exactly representable and
# the BIGINT→DOUBLE cast of the hash rounds identically cross-engine)
MD5_INT64_DOMAIN = float(1 << 60)


MINHASH_PRIME = 2147483647  # 2^31-1; keeps a_k*h + b_k < 2^63


def _perm_constants(num_perms: int) -> tuple[list[int], list[int]]:
    """Deterministic md5-seeded affine-permutation constants:
    a_k odd in [1, 2^28), b_k in [0, 2^28) — no RNG, any engine can
    re-derive them (they are inlined as literals in the SQL oracle)."""
    import hashlib

    a, b = [], []
    for k in range(num_perms):
        ha = int(hashlib.md5(f"a:{k}".encode()).hexdigest()[:7], 16)
        hb = int(hashlib.md5(f"b:{k}".encode()).hexdigest()[:7], 16)
        a.append(ha | 1)
        b.append(hb)
    return a, b


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by normalized-text fingerprint: (fp, n_docs,
    keep_id) with keep_id = min id — the canonical survivor."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Long (doc, shingle) table of distinct word k-grams.

    posexplode + window ``lead`` instead of a higher-order ``transform``:
    HOFs are CodegenFallback (interpreted per element) and measured ~6×
    slower; lead/concat_ws stay in whole-stage codegen. ``concat_ws``
    skips NULL leads, so rows where the last lead is NULL (tail
    positions, docs with < k tokens) are filtered — matching the
    empty-array semantics of the reference shingler. distinct() dedupes
    per (doc, shingle) with map-side partial aggregation.
    """
    from pyspark.sql import Window

    ws = F.split(normalize_text(F.col(text_col)), " ")
    w = df.select(
        F.col(id_col).alias("doc"), F.posexplode(ws).alias("pos", "word")
    )
    win = Window.partitionBy("doc").orderBy("pos")
    leads = [F.lead("word", j).over(win) for j in range(1, k)]
    return (
        w.select(
            "doc",
            F.concat_ws(" ", F.col("word"), *leads).alias("shingle"),
            leads[-1].isNotNull().alias("full"),
        )
        .where(F.col("full"))
        .select("doc", "shingle")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    stage_path: str | None = None,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (d1 < d2, jaccard >= threshold).

    shingle-explode → equi-join on shingle → count common → sizes join.
    The shingle join partitions on the shingle value, so hot shingles are
    the skew risk: a shingle in f documents yields f² join rows in one
    partition.

    ``max_shingle_freq`` is the skew guard: shingles appearing in more
    than that many documents are dropped from CANDIDATE GENERATION only
    — verification then computes Jaccard over the FULL shingle sets, so
    every emitted pair's score is exact. The join input shrinks from
    Σf² to Σ_{f≤maxf} f²; the only approximation is that a pair whose
    shared shingles are ALL hotter than the cutoff is never considered
    (boilerplate overlap — near-zero Jaccard against any real corpus
    document, since doc-frequency f means the shingle is in f docs and
    contributes pair-coverage, not similarity).
    """
    # the shingle table feeds both self-join sides and the sizes agg —
    # compute the explode once, not 3x. Default (dev/driver scale):
    # lazy localCheckpoint pin, referenced by the RETURNED plan and
    # reclaimed by Spark's ContextCleaner when the result is released
    # (not cache(): a CacheManager entry would be substituted into other
    # queries' plans and reused across repeated timed runs). Two
    # tradeoffs vs cache() (r14 ADVICE): localCheckpoint blocks are NOT
    # recoverable on executor loss (the job fails instead of recomputing
    # from lineage), and they are stored row-format MEMORY_AND_DISK, not
    # compressed columnar — a several-fold larger pinned footprint. Both
    # are fine on a single-node driver session; on a real cluster the
    # fault-tolerant tier is ``stage_path``. At 100 TB pass
    # ``stage_path``: the shingle table is written to parquet once and
    # every consumer scans the staged files — executor storage memory
    # holds nothing and the staging doubles as a restart point.
    # ``_shingles``: caller-pinned (doc, shingle) table built with the
    # same (text_col, id_col, k) — shares ONE shingle materialization
    # across several pair pipelines in one query (see minhash_lsh_pairs).
    if _shingles is not None:
        sh = _shingles
    elif stage_path is not None:
        sh = _shingle_table(df, text_col, id_col, k)
        sh.write.mode("overwrite").parquet(stage_path)
        sh = df.sparkSession.read.parquet(stage_path)
    else:
        # lazy localCheckpoint, not cache(): no CacheManager entry to be
        # substituted into other queries' plans or reused across
        # repeated timed runs (r14 cache-hygiene sweep; see linkage.py)
        sh = _shingle_table(df, text_col, id_col, k).localCheckpoint(
            eager=False
        )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("d2"), F.col("n").alias("nb"))

    if max_shingle_freq is None:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        cold = _cold_shingles(sh, max_shingle_freq)
        a = cold.alias("a")
        b = cold.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .distinct()
        )
        # exact verification over the FULL shingle sets (hot shingles
        # included), candidate-bounded: same shape as minhash_lsh_pairs
        s1 = sh.select(F.col("doc").alias("d1"), "shingle")
        s2 = sh.select(F.col("doc").alias("d2"), "shingle")
        common = (
            cands.join(s1, "d1")
            .join(s2, ["d2", "shingle"])
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return (
        common.join(sa, "d1")
        .join(sb, "d2")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "common", "jaccard")
    )


def cosine_tf_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_token_freq: int | None = None,
    stage_path: str | None = None,
    shingle_k: int | None = None,
) -> DataFrame:
    """Exact token-TF COSINE similarity pairs (d1 < d2,
    cosine >= threshold) — the bag-of-words vector-space twin of
    :func:`ngram_jaccard_pairs`: Jaccard scores set overlap and ignores
    repetition; tf-cosine weights repeated vocabulary, the similarity
    BM25-era retrieval and many near-dup miners actually rank by.
    Returns ``(d1, d2, dot, cosine)``.

    Determinism for free: tf vectors are INTEGER count vectors, so the
    dot product is an exact BIGINT sum (map-combinable — no float
    order sensitivity to pin) and each norm is ``sqrt`` of an exact
    BIGINT; cosine = one integer cast, two IEEE-exact sqrts, one
    multiply, one divide — bit-replayable in any engine with no
    ordered folds anywhere (the idf-weighted variant would put ``ln``
    ulps in every score, which is why the exact operator is tf-only;
    rank by BM25 via ``bm25_search`` when idf matters).

    Plan shape: token explode → (doc, token) tf aggregate (computed
    ONCE — cache or ``stage_path``, the :func:`ngram_jaccard_pairs`
    convention) → inverted-index self-join on token → pair-keyed BIGINT
    dot aggregate → two doc-sized norm joins. A token in f documents
    contributes f² join rows from one partition, so ``max_token_freq``
    is the skew guard: hotter tokens are dropped from CANDIDATE
    GENERATION only and every candidate's dot product is then
    re-computed over the FULL tf vectors — emitted scores stay exact,
    and only pairs whose every shared token is hot (stopword-only
    overlap, negligible cosine against any real document) can be
    missed.

    ``shingle_k``: count k-token SHINGLES instead of unigrams — the
    unit that matters on small-vocabulary corpora, where every unigram
    is hot (doc frequency ~corpus size) and the inverted-index join
    degenerates to all-pairs no matter the cap: Σf² over a 31-token
    vocabulary at f≈N is N²-scale, while the same corpus's 3-shingle
    vocabulary is long-tailed (measured 31 unigrams / max-f 402 →
    16k shingles / max-f 7 on the test fixture, an ~80× join-row
    drop). Shingle counts keep repetition (NOT the distinct-set
    shingling of the Jaccard path), so cosine semantics carry over
    unchanged."""
    from gdutils_spark.operators.text import tokens

    if shingle_k is None:
        toks = df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        ).where(F.col("token") != "")
    else:
        if shingle_k < 1:
            raise ValueError("shingle_k must be >= 1")
        from gdutils_spark.operators.text import kgram

        words = df.select(
            F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_w")
        )
        n = F.size(F.col("_w"))
        shingles = F.when(
            n >= shingle_k,
            F.transform(
                F.sequence(F.lit(0), n - shingle_k),
                lambda i: kgram(F.col("_w"), i, shingle_k),
            ),
        ).otherwise(F.array().cast("array<string>"))
        # same ''-skip as the unigram path: a blank document tokenizes
        # to [''] and would otherwise shingle to '' at k=1, pairing
        # unrelated empty docs at cosine 1.0 (k >= 2 never produces '')
        toks = words.select("doc", F.explode(shingles).alias("token")).where(
            F.col("token") != ""
        )
    tf = toks.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    if stage_path is not None:
        tf.write.mode("overwrite").parquet(stage_path)
        tf = df.sparkSession.read.parquet(stage_path)
    else:
        tf = tf.localCheckpoint(eager=False)
    norms = tf.groupBy("doc").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    na = norms.select(F.col("doc").alias("d1"), F.col("sq").alias("sq1"))
    nb = norms.select(F.col("doc").alias("d2"), F.col("sq").alias("sq2"))
    if max_token_freq is None:
        a, b = tf.alias("a"), tf.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.token") == F.col("b.token"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
        )
    else:
        if max_token_freq < 1:
            raise ValueError("max_token_freq must be >= 1")
        doc_freq = tf.groupBy("token").agg(
            F.count(F.lit(1)).alias("_df")
        )
        cold = tf.join(
            doc_freq.where(F.col("_df") <= max_token_freq).select("token"),
            "token",
            "left_semi",
        )
        a, b = cold.alias("a"), cold.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.token") == F.col("b.token"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .distinct()
        )
        t1 = tf.select(F.col("doc").alias("d1"), "token", F.col("tf").alias("tf1"))
        t2 = tf.select(F.col("doc").alias("d2"), "token", F.col("tf").alias("tf2"))
        dots = (
            cands.join(t1, "d1")
            .join(t2, ["d2", "token"])
            .groupBy("d1", "d2")
            .agg(F.sum(F.col("tf1") * F.col("tf2")).alias("dot"))
        )
    return (
        dots.join(na, "d1")
        .join(nb, "d2")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("sq1").cast("double"))
                * F.sqrt(F.col("sq2").cast("double"))
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("d1", "d2", "dot", "cosine")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-CONTAINMENT pairs: containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    (Broder's resemblance-vs-containment distinction). Emits one row per
    unordered pair (d1 < d2) whose containment in EITHER direction
    reaches ``threshold``: (d1, d2, common, c1, c2), with ``c1`` the
    share of d1's shingles found in d2 and vice versa.

    This is the duplicate class symmetric Jaccard structurally misses: a
    tweet-sized quote embedded in a long article has Jaccard ≈ |A|/|B|
    (tiny) but containment(A→B) ≈ 1. Dedup pipelines run it after
    Jaccard to catch quote/boilerplate/subset duplication.

    Plan shape is identical to :func:`ngram_jaccard_pairs` (same shingle
    self-join, same ``max_shingle_freq`` skew guard with exact
    verification over FULL shingle sets) — only the final score
    expression differs, so everything SCALE.md says about the Jaccard
    path applies unchanged.
    """
    sh = _shingle_table(df, text_col, id_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("d2"), F.col("n").alias("nb"))
    if max_shingle_freq is None:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        cold = _cold_shingles(sh, max_shingle_freq)
        a = cold.alias("a")
        b = cold.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .distinct()
        )
        s1 = sh.select(F.col("doc").alias("d1"), "shingle")
        s2 = sh.select(F.col("doc").alias("d2"), "shingle")
        common = (
            cands.join(s1, "d1")
            .join(s2, ["d2", "shingle"])
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    c1 = F.col("common").cast("double") / F.col("na").cast("double")
    c2 = F.col("common").cast("double") / F.col("nb").cast("double")
    return (
        common.join(sa, "d1")
        .join(sb, "d2")
        .select("d1", "d2", "common", c1.alias("c1"), c2.alias("c2"))
        .where((F.col("c1") >= threshold) | (F.col("c2") >= threshold))
    )


def _cold_shingles(sh: DataFrame, max_freq: int) -> DataFrame:
    """Shingle rows minus shingles whose document frequency exceeds
    ``max_freq`` — one extra hash-agg on the shingle key (map-side
    combined), which is exactly the partitioning the self-join needs
    anyway, so AQE can reuse the exchange."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(freq.where(F.col("_df") <= max_freq), "shingle", "left_semi")
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Decontamination report: corpus documents sharing >= ``min_overlap``
    word k-gram shingles with any benchmark document — the standard
    train/eval overlap check a training-data pipeline runs before a
    corpus ships (the reference has nothing like it; beyond-reference).

    Plan shape for 100 TB: the benchmark side is eval-suite-sized
    (thousands of documents), so its distinct shingle set BROADCASTS and
    the corpus-scale shingle table never shuffles — contamination is one
    broadcast hash join + one hash-agg on (corpus doc, benchmark doc).
    Returns (doc_id, bench_id, n_shared) sorted nowhere; empty result
    means clean.
    """
    corp_sh = _shingle_table(corpus, text_col, id_col, k)
    bench_sh = _shingle_table(benchmark, text_col, id_col, k).select(
        F.col("doc").alias("bench_id"), "shingle"
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(F.col("doc").alias(id_col), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature: num_perms min-aggregates in ONE groupBy over the
    exploded shingle table (columns sig00..sig{P-1}). Documents with no
    shingles are dropped (no signature to compare).

    One md5 per shingle; the K permutations are affine remaps of that
    base hash (see module docstring) — K× fewer md5 evaluations, and the
    shuffle still carries just one partially-aggregated signature row
    per (partition, doc)."""
    sh = _shingles if _shingles is not None else _shingle_table(df, text_col, id_col, k)
    a, b = _perm_constants(num_perms)
    h = (_md5_int64(F.col("shingle")) % MINHASH_PRIME).alias("h")
    hashed = sh.select("doc", h)
    aggs = [
        F.min((F.col("h") * a[p] + b[p]) % MINHASH_PRIME).alias(f"sig{p:02d}")
        for p in range(num_perms)
    ]
    return hashed.groupBy("doc").agg(*aggs)


def _banded_signatures(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, band, bh) rows: band hash = md5 of the comma-joined
    signature slice. One explode per signature row."""
    band_cols = []
    for bidx in range(bands):
        slice_cols = [
            F.col(f"sig{p:02d}") for p in range(bidx * rows, (bidx + 1) * rows)
        ]
        band_cols.append(
            F.struct(
                F.lit(bidx).alias("band"),
                F.md5(F.concat_ws(",", *slice_cols)).alias("bh"),
            )
        )
    return sigs.select(
        F.col("doc"), F.explode(F.array(*band_cols)).alias("b")
    ).select("doc", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    stage_path: str | None = None,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard.

    Banding: rows_per_band = num_perms // bands; band hash = md5 of the
    comma-joined signature slice. Self-join on (band, band_hash) finds
    candidates — this is the 100 TB scale path: cost ∝ bucket sizes, never
    all-pairs. Verification reuses :func:`ngram_jaccard_pairs` semantics on
    candidates only.

    ``max_shingle_freq`` (skew guard): shingles in more than that many
    documents are excluded from SIGNATURE input — stop-shingle removal,
    the standard fix for boilerplate dominating minhash signatures and
    for hot band-buckets (f docs sharing boilerplate → f² candidate
    rows in one bucket). Verification still scores the FULL shingle
    sets, so every emitted pair's Jaccard is exact; only candidate
    recall changes (pairs similar solely through boilerplate stop
    colliding).
    """
    # shingles feed signatures + both verification join sides + sizes.
    # Default: lazy localCheckpoint pin, referenced by the returned plan
    # → ContextCleaner-reclaimed when the result is released. At 100 TB
    # pass ``stage_path``: the shingle table stages to parquet once and
    # all four consumers scan the staged files (see ngram_jaccard_pairs).
    # ``_shingles``: a caller-pinned (doc, shingle) table built with the
    # SAME (text_col, id_col, k) — lets a query that runs several pair
    # pipelines over one relation (e.g. LSH + exact-Jaccard recall, or
    # self + between in the incremental-clustering query) materialize
    # the shingle explode ONCE instead of once per pipeline (r14,
    # guide §2.4 "share one exchange").
    if _shingles is not None:
        sh_cached = _shingles
    elif stage_path is not None:
        sh_cached = _shingle_table(df, text_col, id_col, k)
        sh_cached.write.mode("overwrite").parquet(stage_path)
        sh_cached = df.sparkSession.read.parquet(stage_path)
    else:
        sh_cached = _shingle_table(df, text_col, id_col, k).localCheckpoint(
            eager=False
        )
    sig_input = (
        sh_cached
        if max_shingle_freq is None
        else _cold_shingles(sh_cached, max_shingle_freq)
    )
    sigs = minhash_signatures(df, text_col, id_col, num_perms, k, _shingles=sig_input)
    return _lsh_verify_pairs(sh_cached, sigs, num_perms, bands, threshold)


def _lsh_verify_pairs(
    sh_cached: DataFrame,
    sigs: DataFrame,
    num_perms: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Band the signature table, self-join on (band, band-hash) for
    candidates, verify with exact Jaccard over the shingle table.
    Factored out so :func:`minhash_estimate_pairs` can share ONE
    shingle/signature computation with the pair pipeline."""
    rows = num_perms // bands
    banded = _banded_signatures(sigs, bands, rows)
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
        # bucket-collision-sized; reused 3× — lazy localCheckpoint pin
        .localCheckpoint(eager=False)
    )
    # exact verification on the candidate set only: semi-filter the
    # shingle table to candidate docs BEFORE any shuffle, so the
    # verification joins and the size aggregate cost ∝ candidates — the
    # corpus-scale shingle table never shuffles here
    cand_ids = (
        cands.select(F.col("d1").alias("doc"))
        .union(cands.select(F.col("d2").alias("doc")))
        .distinct()
    )
    sh = sh_cached.join(F.broadcast(cand_ids), "doc", "left_semi")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc").alias("d1"), F.col("shingle"))
    sb = sh.select(F.col("doc").alias("d2"), F.col("shingle"))
    common = (
        cands.join(sa, "d1")
        .join(sb, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc").alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc").alias("d2"), F.col("n").alias("nb"))
    return (
        common.join(na, "d1")
        .join(nb, "d2")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """60-bit SimHash over distinct word hashes (unweighted): bit b of the
    fingerprint is 1 iff sum over words of ±1 (sign of word-hash bit b) is
    positive.

    Implementation packs 4 one-bit counters per 64-bit lane-sum (16-bit
    lanes): ``ones_b = lane`` and the signed per-bit sum is
    ``2*ones_b - n_words`` — exact integer arithmetic, identical to `bits`
    independent conditional sums, but `bits/4 + 1` aggregate expressions
    instead of `bits`, which cuts both per-row work and whole-stage
    codegen compilation (the dominant cold-run cost of this operator).
    Safe for up to 2^16-1 distinct words per document per lane.
    """
    lanes = 4
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    w = df.select(F.col(id_col).alias("doc"), F.explode(words).alias("word"))
    h = _md5_int64(F.col("word"))
    w = w.select("doc", h.alias("h"))
    # Multiply-spread: bit j of the nibble (h >> k) & 0xF lands exactly at
    # lane position 16*j (bit j picks up shift 15*j from the magic
    # constant, masked to the lane floor bits) — one multiply + two masks
    # per packed aggregate instead of four shift/mask/shift chains. Exact:
    # nibble * magic <= 15 * 2^45.003 < 2^63, cross terms all masked out.
    magic = 1 + (1 << 15) + (1 << 30) + (1 << 45)
    lane_floor = 1 | (1 << 16) | (1 << 32) | (1 << 48)
    packed_cols = []
    for k in range(0, bits, lanes):
        nibble_mask = (1 << min(lanes, bits - k)) - 1
        spread = (
            F.shiftright(F.col("h"), k).bitwiseAND(F.lit(nibble_mask)) * F.lit(magic)
        ).bitwiseAND(F.lit(lane_floor))
        packed_cols.append(F.sum(spread).alias(f"p{k:02d}"))
    agg = w.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *packed_cols)
    fp = None
    for b in range(bits):
        k, j = (b // lanes) * lanes, b % lanes
        ones = F.shiftright(F.col(f"p{k:02d}"), 16 * j).bitwiseAND(F.lit(0xFFFF))
        term = F.when(
            ones * 2 > F.col("n"), F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select("doc", fp.alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 50,
    algorithm: str = "hash_min",
) -> DataFrame:
    """Connected components over an undirected edge list → ``(node,
    component)`` with ``component`` = the minimum node id in the component.
    Only nodes that appear in at least one edge are labeled (isolated
    docs are their own trivial cluster and need no shuffle to find).

    This is the step that turns near-dup *pairs* (MinHash-LSH, SimHash)
    into dedup *clusters* — keep ``min(node)`` per component, drop the
    rest. The reference has no graph ops at all; this is a
    beyond-reference extension for training-data pipelines.

    Algorithm: hash-min label propagation. Each round every node adopts
    the smallest label among itself and its neighbors — one equi-join on
    the (symmetrized) edge list plus one min-aggregate, both
    shuffle-partitioned on node id. Rounds needed = graph diameter,
    which for near-dup clusters is tiny (dup clusters are dense);
    ``localCheckpoint`` after each round truncates the lineage so plans
    don't grow with iteration count. Convergence is detected by the sum
    of labels (monotonically non-increasing, integer-exact in
    decimal(38,0)) reaching a fixpoint — one cheap aggregate per round
    instead of a change-count join. ``max_iter`` counts rounds including
    the one that confirms the fixpoint (so a component of diameter D
    needs ``max_iter >= D + 1``); both algorithms raise ``RuntimeError``
    when it is hit without one, so callers never silently get partial
    clusters.

    ``algorithm="star"`` switches to alternating large-star/small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14): O(log² n) rounds independent of diameter — the right
    choice for adversarial chain-shaped graphs where hash-min's
    diameter-many rounds dominate. Near-dup clusters are dense and
    shallow, so hash-min stays the default.
    """
    if algorithm == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    if algorithm != "hash_min":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Cache the directed edge list BEFORE symmetrizing: the union's two
    # branches would otherwise each re-evaluate the upstream pair
    # pipeline (LSH banding + verification) on the cache-cold first pass.
    base = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).cache()
    # The edge list is tiny relative to the corpus by construction (it
    # holds verified near-dup pairs, not documents). Size the iterative
    # loop's shuffle parallelism to the edges, not to the session default
    # sized for corpus scans: a handful of labels per partition makes
    # every propagation round pay ~4 scheduling quanta for nothing.
    # ~200k edges per partition keeps rounds in-memory; a 10^9-edge graph
    # still gets thousands-way parallelism.
    n_edges = base.count()  # materializes the pair pipeline exactly once
    spark = edges.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(session_parts, n_edges // 200_000 + 1))
    # Materialize the symmetrized edges at loop parallelism — each round
    # re-reads this tiny checkpoint, not the upstream pipeline. The AQE-off
    # pin (graph._pinned_partitioned) keeps HashPartitioning(a, loop_parts),
    # so each round's join exchanges only the node-sized label side.
    sym = _pinned_partitioned(
        base.union(base.select(F.col("b"), F.col("a"))),
        "a",
        num_partitions=loop_parts,
    )
    # the eager checkpoint above is the last consumer of the cached
    # edge relation — release it NOW: CacheManager entries are not
    # ContextCleaner-collected, and a session running many CC calls
    # (e.g. the incremental-clustering query runs two) would pin one
    # leaked cache entry per call otherwise
    base.unpersist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # convergence checksum: exact decimal label-sum for numeric node ids
    # (monotone non-increasing → fixpoint iff equal); for non-numeric ids
    # an xxhash64-sum with the same ~2⁻⁶⁴ collision acceptance the star
    # variant documents
    from pyspark.sql.types import NumericType

    if isinstance(edges.schema[src].dataType, NumericType):
        chk = F.col("comp").cast("decimal(38,0)")
    else:
        chk = F.xxhash64("comp").cast("decimal(38,0)")
    prev: object = None
    converged = False
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(loop_parts)}):
        for _ in range(max_iter):
            prop = sym.join(labels, sym["a"] == labels["node"]).select(
                F.col("b").alias("node"), F.col("comp")
            )
            # lazy checkpoint: the convergence aggregate below is the
            # action that materializes it — one job per round, not two
            labels = (
                labels.unionByName(prop)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
                .localCheckpoint(eager=False)
            )
            total = labels.agg(F.sum(chk).alias("s")).collect()[0]["s"]
            if total == prev:
                converged = True
                break
            prev = total
    sym.unpersist()
    if not converged:
        raise RuntimeError(f"hash-min did not converge in {max_iter} rounds")
    return labels.select("node", "comp")


def connected_components_incremental(
    delta_edges: DataFrame,
    seed_labels: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 50,
    algorithm: str = "hash_min",
) -> DataFrame:
    """Incremental connected components — merge a DELTA batch of edges
    into yesterday's component labeling WITHOUT rescanning yesterday's
    edge list, completing the nightly-ingest story for clustering the
    way ``minhash_lsh_pairs_between`` does for pair generation: last
    night's near-dup clusters + tonight's new pairs → tonight's
    clusters.

    The trick is the standard label-contraction: yesterday's labeling
    re-enters as STAR EDGES ``(node, component)`` — each labeled node
    linked to its component id — which is a faithful contraction of
    yesterday's graph for connectivity purposes (every old component is
    a star around its minimum id) at |V_old| edges instead of |E_old|.
    Running the ordinary CC over ``delta ∪ star`` then yields EXACTLY
    the labeling a full re-run over ``base ∪ delta`` would produce
    (component = min node id is preserved: the star center IS the old
    minimum), which is the differential-tested claim. A delta edge
    touching two old components merges them; labels can only decrease.

    ``seed_labels`` must be the ``(node, comp)`` output of a previous
    :func:`connected_components` / this function (node-unique, comp =
    min reachable id — a comp value that is not a real minimum still
    converges but can LOWER ids spuriously if it collides with a node
    id outside the component; feed labels, not arbitrary tags). Cost:
    one CC run over |delta| + |V_old| edges — at a 1% nightly delta on
    a 100 TB corpus that is ~node-sized, vs. the edge-sized full rerun.
    """
    star = seed_labels.select(
        F.col("node").alias(src), F.col("comp").alias(dst)
    )
    merged = delta_edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).unionByName(star)
    return connected_components(
        merged, src=src, dst=dst, max_iter=max_iter, algorithm=algorithm
    )


def _connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., SoCC'14).

    Each round is two edge-rewrites, both expressed as groupBy(min) +
    equi-join on node id (same shuffle key both phases):

    * large-star: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood;
    * small-star: every node connects its not-larger neighbors (and
      itself) to that minimum.

    Edges stay canonical (u > v) throughout, so the fixpoint — a union
    of stars rooted at component minima — is detected by a (count,
    xxhash64-sum) checksum, one tiny aggregate per round. The checksum
    comparison assumes no xxhash64-sum collision between consecutive
    DIFFERENT edge sets of equal size — a ~2⁻⁶⁴ event per round; a
    collision would end the loop one rewrite early with a near-converged
    labeling, which we accept for the one-aggregate-per-round cost (an
    exact set-difference check would add a join-shaped job per round).
    Converges in O(log² n) rounds on ANY graph shape; raises if
    ``max_iter`` is hit without a fixpoint so callers never silently get
    partial clusters. Per-round cost is O(|E|) shuffled rows, same as
    one hash-min round.
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev: tuple | None = None
    converged = False
    for _ in range(max_iter):
        # -- large-star: emit (v, min(closed nbhd of u)) for v > u -------
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mv"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        # -- small-star on canonical (u > v) edges -----------------------
        mins2 = large.groupBy("u").agg(F.min("v").alias("mv"))
        attach = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
        )
        e = (
            attach.union(mins2.select("u", F.col("mv").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        chk = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (chk["n"], chk["h"])
        if sig == prev:
            converged = True
            break
        prev = sig
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds"
        )
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    return e.select(F.col("u").alias("node"), F.col("v").alias("comp")).union(
        roots
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found via chunk banding.

    The fingerprint is cut into ``max_hamming + 1`` disjoint chunks of
    ``bits // (max_hamming + 1)`` bits (leftover high bits sit in none).
    Pigeonhole: a pair within ``max_hamming`` differs in at most
    ``max_hamming`` chunks, so at least one chunk is identical and the
    candidate join on (chunk_idx, chunk_value) misses no pair; bit_count
    then verifies each candidate exactly. The default 3 gives 4×15-bit
    chunks; larger distances give more, narrower chunks and more
    candidates.
    """
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, {bits}), got {max_hamming}")
    chunks = max_hamming + 1
    width = bits // chunks
    mask = (1 << width) - 1
    # one fingerprint row per doc feeds both self-join sides; pin it
    # rather than recomputing the word explode + bit-sum aggregation twice
    fps = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    chunk_cols = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("cv"),
        )
        for i in range(chunks)
    ]
    chunked = fps.select(
        "doc", "simhash", F.explode(F.array(*chunk_cols)).alias("c")
    ).select("doc", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE the distinct so the dedup aggregate only sees
        # qualifying pairs, not every chunk collision
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cross_group_shingle_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise shingle overlap between corpus groups (sources, dumps,
    snapshots) — the cross-source contamination matrix a data-mixing
    decision starts from: how much of source A's n-gram inventory also
    appears in source B.

    Returns one row per unordered group pair ``(g1 < g2)`` with the
    shared distinct-shingle count, each side's inventory size, and
    ``overlap_frac = shared / min(n1, n2)`` (containment of the smaller
    inventory — robust when group sizes are lopsided).

    Plan shape: the shingle build is the same codegen'd lead-window as
    the dedup family; the (group, shingle) inventory is one distinct
    (map-side combinable — a shingle repeated within a group collapses
    early); the pair join shuffles on ``shingle``, and its fan-out is
    bounded by the number of GROUPS a shingle appears in (≤ |groups|,
    never document fan-out — the f² blow-up of the pair-dedup problem
    does not arise because documents are already collapsed). Group
    totals are group-cardinality-sized and broadcast back.
    """
    sh = _shingle_table(df, text_col, id_col, k)
    grp = df.select(F.col(id_col).alias("doc"), F.col(group_col).alias("grp"))
    inv = sh.join(grp, "doc").select("grp", "shingle").distinct()
    totals = inv.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(F.col("a.grp").alias("g1"), F.col("b.grp").alias("g2"))
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    t1 = totals.select(F.col("grp").alias("g1"), F.col("n").alias("n1"))
    t2 = totals.select(F.col("grp").alias("g2"), F.col("n").alias("n2"))
    return (
        shared.join(F.broadcast(t1), "g1")
        .join(F.broadcast(t2), "g2")
        .select(
            "g1",
            "g2",
            "shared_shingles",
            "n1",
            "n2",
            (
                F.col("shared_shingles").cast("double")
                / F.least("n1", "n2").cast("double")
            ).alias("overlap_frac"),
        )
    )


def keep_best_representative(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Duplicate-cluster survivor selection by QUALITY instead of id:
    given near-dup ``pairs`` and a per-document ``quality_col`` on
    ``docs``, label every document with its cluster and keep, per
    cluster, the highest-quality member (ties → lowest id). Documents in
    no cluster keep themselves. The standard refinement over
    min-id survivorship — a pipeline should retain the best-written copy
    of a duplicated page, not the one with the smallest crawl id.

    Plan shape: connected components over the (tiny) verified pair list;
    only CLUSTER MEMBERS (edge-sized) are aggregated — the winner per
    cluster is one ``max_by`` over them (struct ordering gives the
    quality-then-min-id rule without a window sort). The corpus itself
    never shuffles: labels and winners broadcast back onto the scan and
    singletons keep themselves via coalesce.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    base = docs.select(
        F.col(id_col).alias("doc"), F.col(quality_col).alias("_q")
    )
    members = base.join(F.broadcast(cc.withColumnRenamed("node", "doc")), "doc")
    # min_by on (-quality, doc): struct comparison is lexicographic, so
    # highest quality wins and the LOWEST doc id breaks ties — negating
    # the (numeric) quality instead of the id keeps the rule
    # order-insensitive in the id domain, so string doc ids work too
    winners = members.groupBy("comp").agg(
        F.min_by("doc", F.struct((-F.col("_q")).alias("_nq"), F.col("doc"))).alias(
            "keep_doc"
        )
    )
    labels = cc.withColumnRenamed("node", "doc").join(
        winners, "comp"
    )  # edge-sized: (doc, comp, keep_doc)
    return base.join(F.broadcast(labels), "doc", "left").select(
        "doc",
        F.coalesce(F.col("comp"), F.col("doc")).alias("component"),
        F.col("_q").alias(quality_col),
        F.coalesce(F.col("doc") == F.col("keep_doc"), F.lit(True)).alias(
            "is_kept"
        ),
    )


# sidecar filename inside a staged banded-signature directory (the
# linkage GRAM_META_NAME convention); leading underscore keeps parquet
# readers from scanning it
LSH_META_NAME = "_gdutils_lsh_meta.json"


def stage_lsh_corpus(
    corpus_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
    bands: int = DEFAULT_BANDS,
) -> None:
    """Write the corpus banded-signature table ``(corpus_id, band, bh)``
    to parquet PLUS a ``(num_perms, k, bands)`` sidecar that
    :func:`minhash_lsh_pairs_between` validates — a staged table built
    with different signature parameters never bucket-matches the batch
    side and would silently return an empty pair set otherwise.

    This is the ONE corpus-wide job of the nightly-ingest design (a
    doc-keyed min-aggregate over the shingle explode); every subsequent
    batch run probes the parquet map-side via ``corpus_banded_path=``.
    Plain parquet, not a bucketed catalog table: the candidate join
    BROADCASTS the batch side, which needs no co-location."""
    import json
    import os

    rows = num_perms // bands
    _banded_signatures(
        minhash_signatures(corpus_df, text_col, id_col, num_perms, k),
        bands,
        rows,
    ).select(F.col("doc").alias("corpus_id"), "band", "bh").write.mode(
        "overwrite"
    ).parquet(path)
    with open(os.path.join(path, LSH_META_NAME), "w") as f:
        json.dump(
            {"num_perms": int(num_perms), "k": int(k), "bands": int(bands)}, f
        )


def _validate_staged_lsh(path: str, num_perms: int, k: int, bands: int) -> None:
    """Fail loudly when a staged banded-signature table was built with
    different signature parameters (any of num_perms/k/bands changes
    every band hash → silently zero candidates). Sidecar-less legacy
    artifacts can't be checked — restage via :func:`stage_lsh_corpus`."""
    import json
    import os

    meta_path = os.path.join(path, LSH_META_NAME)
    if not os.path.exists(meta_path):
        return
    with open(meta_path) as f:
        meta = json.load(f)
    want = {"num_perms": int(num_perms), "k": int(k), "bands": int(bands)}
    got = {kk: meta.get(kk) for kk in want}
    if got != want:
        raise ValueError(
            f"minhash_lsh_pairs_between: staged banded table {path} was "
            f"built with {got} but the query uses {want} — band hashes "
            "never match across parameter changes; restage via "
            "stage_lsh_corpus"
        )


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    corpus_banded_path: str | None = None,
    _new_shingles: DataFrame | None = None,
    _corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    existing corpus — the nightly-ingest pattern, where re-running the
    all-pairs self-join over the whole corpus per batch would be
    quadratic in corpus growth. Returns ``(new_id, corpus_id, jaccard)``
    for verified matches; new documents also duplicated *within* the
    batch are the self-join problem — run :func:`minhash_lsh_pairs` on
    the batch alone for those.

    A document's signature depends only on its own shingles, so corpus
    signatures staged to parquet by a prior run are identical to
    recomputed ones — stage via :func:`stage_lsh_corpus` and pass
    ``corpus_banded_path`` (parameters validated against the sidecar;
    differential-tested staged == fresh).

    Plan shape at 100 TB — STAGED (``corpus_banded_path=``, the nightly
    shape): the batch side is ingest-sized, so its banded signature
    table and its shingle table BROADCAST; the corpus side is two
    map-side probes — the staged banded parquet broadcast-joined for
    candidates, and ONE corpus text scan semi-filtered to candidate ids
    BEFORE the shingle explode for exact verification. Zero corpus-wide
    shuffle; the only aggregates are batch/candidate-bounded.

    FRESH fallback (no staged path): candidate discovery and
    verification keep the same broadcast shape, but computing corpus
    signatures inline requires a corpus-wide doc-keyed min-aggregate
    over the shingle explode — a narrow-projection shuffle that is legal
    at scale but is exactly what staging exists to amortize.
    """
    rows = num_perms // bands
    # ``_new_shingles`` / ``_corpus_shingles``: caller-pinned shingle
    # tables built with the same (text_col, id_col, k) — a query that
    # also runs the self-join pipeline over either relation (the
    # incremental-clustering composition) shares ONE shingle
    # materialization per relation instead of re-exploding it here.
    if _new_shingles is not None:
        new_sh = _new_shingles
    else:
        new_sh = _shingle_table(new_df, text_col, id_col, k).localCheckpoint(
            eager=False
        )
    new_banded = _banded_signatures(
        minhash_signatures(new_df, text_col, id_col, num_perms, k, _shingles=new_sh),
        bands,
        rows,
    ).select(F.col("doc").alias("new_id"), "band", "bh")
    if corpus_banded_path is not None:
        _validate_staged_lsh(corpus_banded_path, num_perms, k, bands)
        corp_banded = corpus_df.sparkSession.read.parquet(corpus_banded_path)
    else:
        corp_sh = (
            _corpus_shingles
            if _corpus_shingles is not None
            else _shingle_table(corpus_df, text_col, id_col, k)
        )
        corp_banded = _banded_signatures(
            minhash_signatures(
                corpus_df, text_col, id_col, num_perms, k, _shingles=corp_sh
            ),
            bands,
            rows,
        ).select(F.col("doc").alias("corpus_id"), "band", "bh")
    cands = (
        corp_banded.join(F.broadcast(new_banded), ["band", "bh"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    # exact verification: corpus shingles semi-filtered to candidates
    # (never shuffled at corpus scale), batch shingles broadcast
    cand_corp = cands.select(F.col("corpus_id").alias("doc")).distinct()
    if corpus_banded_path is not None:
        # staged mode: the corpus TEXT scan is restricted to candidate
        # ids BEFORE the shingle explode — per-run corpus work is one
        # pruned scan + a candidate-bounded explode, instead of
        # exploding the whole corpus and filtering afterwards
        cs = _shingle_table(
            corpus_df.join(
                F.broadcast(cand_corp.withColumnRenamed("doc", id_col)),
                id_col,
                "left_semi",
            ),
            text_col,
            id_col,
            k,
        )
    else:
        cs = corp_sh.join(F.broadcast(cand_corp), "doc", "left_semi")
    n_new = new_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_new"))
    n_corp = cs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_corp"))
    common = (
        cands.join(
            cs.select(F.col("doc").alias("corpus_id"), "shingle"), "corpus_id"
        )
        .join(
            F.broadcast(
                new_sh.select(F.col("doc").alias("new_id"), "shingle")
            ),
            ["new_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            F.broadcast(n_new.select(F.col("doc").alias("new_id"), "n_new")),
            "new_id",
        )
        .join(
            n_corp.select(F.col("doc").alias("corpus_id"), "n_corp"),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_new") + F.col("n_corp") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    return out


def cluster_size_stats(
    components: DataFrame,
    node: str = "node",
    comp: str = "comp",
) -> DataFrame:
    """Duplicate-cluster size distribution: for each cluster size, how
    many clusters have that size and how many documents they hold — the
    standard dedup report (how much of the corpus is duplicated, and in
    how large groups) run after ``connected_components``.

    Plan shape: two map-side-combinable hash aggregates over the
    edge-sized component table; the corpus itself is never touched. The
    first groupBy shuffles on the cluster label, the second on the
    (tiny, at most |distinct sizes|) size key.
    """
    sizes = components.groupBy(F.col(comp).alias("_c")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def pair_recall(
    approx: DataFrame,
    exact: DataFrame,
    keys: tuple[str, str] = ("d1", "d2"),
) -> DataFrame:
    """Recall/precision of an approximate duplicate-PAIR detector against
    an exact baseline — the text-dedup analog of ``similarity.knn_recall``
    (every LSH deployment tunes perms/bands against exactly this number).

    Both inputs are (d1, d2)-keyed pair relations, e.g.
    :func:`minhash_lsh_pairs` (approx) vs :func:`ngram_jaccard_pairs`
    (exact ground truth) at the same shingle k and threshold. Output is
    ONE row: (n_exact, n_approx, n_hits, recall, precision), with the
    ratios derived from exact integers by a single IEEE division each —
    deterministic across engines. For a verified-candidate detector like
    ``minhash_lsh_pairs`` precision is 1.0 by construction; recall is the
    banding-geometry number being tuned.

    Plan shape: pair lists are corpus-dup-rate-sized, not corpus-sized;
    the pair-key equi-join and the three 1-row aggregates are noise next
    to producing the inputs. Run the exact side on a SAMPLE at 100 TB —
    recall estimates converge fast (same advice as ``knn_recall``).
    """
    ks = list(keys)
    a = approx.select(*ks).distinct()
    e = exact.select(*ks).distinct()
    hits = a.join(e, ks)
    one = F.count(F.lit(1)).cast("long")
    stats = (
        e.agg(one.alias("n_exact"))
        .crossJoin(a.agg(one.alias("n_approx")))
        .crossJoin(hits.agg(one.alias("n_hits")))
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, F.col(num).cast("double") / F.col(den)
    )
    return stats.select(
        "n_exact",
        "n_approx",
        "n_hits",
        ratio("n_hits", "n_exact").alias("recall"),
        ratio("n_hits", "n_approx").alias("precision"),
    )


SPLIT_BUCKETS = 1_000_000


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
    holdout_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Near-dup-aware train/holdout split: every member of a duplicate
    cluster lands in the SAME split, so a held-out document can never
    have a near-copy in the training set — the contamination mode a
    plain per-document hash split silently permits (and the reason
    benchmark decontamination alone is insufficient: eval sets built
    from the corpus itself leak through duplicates, not just verbatim
    benchmark strings).

    The split key is the cluster representative (min member id;
    singletons key on themselves), and the assignment is the same
    RNG-free rule as :func:`~gdutils_spark.operators.sampling.shard_assign`:
    ``holdout iff md5int60(salt‖key) mod 1e6 < holdout_frac·1e6`` —
    deterministic, engine-reproducible, and incrementally stable until
    a cluster itself merges (in which case re-keying is semantically
    required anyway).

    Plan shape: connected components over the (tiny) verified pair list;
    the corpus takes ONE broadcast left join against the edge-sized
    label table and never shuffles — split assignment is scan-speed.
    """
    if not 0.0 <= holdout_frac <= 1.0:
        raise ValueError("holdout_frac must be in [0, 1]")
    cc = connected_components(pairs, src=src, dst=dst)
    base = docs.select(F.col(id_col).alias("doc"))
    labeled = base.join(
        F.broadcast(cc.withColumnRenamed("node", "doc")), "doc", "left"
    )
    key = F.coalesce(F.col("comp"), F.col("doc"))
    h = _md5_int64(F.concat(F.lit(salt), key.cast("string")))
    thresh = int(holdout_frac * SPLIT_BUCKETS)
    return labeled.select(
        "doc",
        key.alias("split_key"),
        F.when(h % SPLIT_BUCKETS < thresh, F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    stage_path: str | None = None,
) -> DataFrame:
    """Sketch-accuracy report: for every VERIFIED near-dup pair, the
    MinHash-estimated Jaccard (fraction of matching signature positions
    — the estimator whose expectation IS the Jaccard, Broder 1997)
    against the exact value, plus the signed error. This is the
    num_perms tuning loop made first-class: estimator spread tells you
    directly whether the permutation budget supports the threshold you
    dedup at (stddev ≈ sqrt(J(1-J)/P)).

    All arithmetic is exact integers + two final divisions, so any
    engine reproduces the report bit-for-bit. Plan shape: the corpus is
    shingled and md5-hashed ONCE — the signature table here is the same
    one the pair pipeline bands (shared via :func:`_lsh_verify_pairs`),
    not a recompute — and each pair side joins it with a wide codegen'd
    equality sum (no explode), so the report costs two pair-keyed joins
    beyond the pair pipeline itself. At 100 TB pass ``stage_path`` to
    land the shingle table in parquet for its multiple consumers.
    """
    sh_cached = _shingle_table(df, text_col, id_col, k)
    if stage_path is not None:
        sh_cached.write.mode("overwrite").parquet(stage_path)
        sh_cached = df.sparkSession.read.parquet(stage_path)
    else:
        sh_cached = sh_cached.localCheckpoint(eager=False)
    # pinned: consumed by banding AND both estimate-join sides below
    sigs = minhash_signatures(
        df, text_col, id_col, num_perms, k, _shingles=sh_cached
    ).localCheckpoint(eager=False)
    pairs = _lsh_verify_pairs(sh_cached, sigs, num_perms, bands, threshold)
    a = sigs.select(
        F.col("doc").alias("d1"),
        *[F.col(f"sig{p:02d}").alias(f"a{p:02d}") for p in range(num_perms)],
    )
    b = sigs.select(
        F.col("doc").alias("d2"),
        *[F.col(f"sig{p:02d}").alias(f"b{p:02d}") for p in range(num_perms)],
    )
    matches = None
    for p in range(num_perms):
        term = F.when(F.col(f"a{p:02d}") == F.col(f"b{p:02d}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            matches.cast("long").alias("sig_matches"),
            (matches.cast("double") / F.lit(num_perms)).alias("est_jaccard"),
            (
                (matches.cast("double") / F.lit(num_perms)) - F.col("jaccard")
            ).alias("est_error"),
        )
    )
