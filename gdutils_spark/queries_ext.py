"""Extension queries: dedup, similarity search, text analysis over the
documents/embeddings tables, each with a generated DuckDB oracle.

The oracle SQL is generated from the same constants as the Spark operators
(marker vocabularies, permutation counts, plane signs) so the two sides
can never drift apart.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdutils_spark.operators import dedup as dd
from gdutils_spark.operators import sampling as sp
from gdutils_spark.operators import sessions as ss
from gdutils_spark.operators import similarity as sim
from gdutils_spark.operators import text as tx
from gdutils_spark.sources.tables import load_table

NGRAM_K = 3
JACCARD_T = 0.5
NUM_PERMS = 16
BANDS = 4
SIMHASH_BITS = 60
KNN_K = 5
N_QUERIES = 10  # vec_id < 10 are the knn query set
NEAR_DUP_T = 0.45
LSH_PLANES = 8
# 16 bands x 8 rows: candidate volume ~ bands * N^2 / 2^(rows+1) = N^2/32,
# a 16x prune vs all-pairs at any N with uniform buckets; detection prob
# for a genuine dup at cosine 0.8 is 1-(1-p^8)^16 = 0.94 (p = 1-theta/pi),
# 0.996 at 0.9. Pairs sitting AT the 0.45 threshold (theta = 63 deg) are
# the LSH worst case (~0.4) — inherent to sign-LSH, not a tuning miss;
# the exact brute-force operator remains the verification baseline.
LSH_BANDS = 16
LSH_BAND_ROWS = 8
EMB_DIMS = 64

# trim(x, ' ') — explicit ASCII space — NOT bare trim(): DuckDB's
# default trim strips ALL Unicode whitespace (U+3000, NBSP) where Spark
# strips 0x20 only, so bare trim() silently diverges fingerprints and
# token counts on unicode-padded docs (r14 unicode hunt pin; every
# oracle trim over text in this module follows the same rule)
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '))"
_TOKS = f"regexp_split_to_array({_NORM}, ' ')"


def _h64(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.text_stats(load_table(spark, sf_dir, "documents"))


_STOP_LIST = ", ".join(f"'{w}'" for w in tx.STOPWORDS)

_TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len,
  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
  CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS INT) AS n_stopwords,
  CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks) AS stopword_ratio,
  0.5 * (CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks))
  + 0.5 * (CASE WHEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
  - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS quality_score
FROM t
"""


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_counts(load_table(spark, sf_dir, "documents"))


_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
  CASE WHEN length(trim(text, ' ')) = 0 THEN 0
       ELSE CAST(len(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS INT)
  END AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{tx.BPE_PATTERN}')) AS INT) AS n_bpe_tokens
FROM documents
"""


def doc_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.rolling_fingerprint(load_table(spark, sf_dir, "documents"))


_ROLLING_FP_SQL = f"""
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(regexp_split_to_array(lower(trim(text, ' ')), '\\s+'),
                     x -> {_h64("x")})),
    (acc, x) -> (acc * {tx.ROLL_BASE} + x) % {tx.ROLL_MOD}
  ) END AS rolling_fp
FROM documents
"""
# CASE: NULL text -> NULL fingerprint on both engines (Spark's NULL
# array propagates; DuckDB's list_prepend(0, NULL) would fold to 0 —
# r13 null-fixture hunt)


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(load_table(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    langs = list(tx.LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        vocab = ", ".join(f"'{w}'" for w in tx.LANG_MARKERS[lang])
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> list_contains([{vocab}], x))) AS INT) AS score_{lang}"
        )
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"score_{lang} > 0"]
        conds += [f"score_{lang} >= score_{o}" for o in langs[i + 1 :]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {", ".join(score_exprs)} FROM t
)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       CASE {" ".join(cases)} ELSE 'und' END AS lang_guess
FROM s
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(load_table(spark, sf_dir, "documents"))


_EXACT_DUPS_SQL = f"""
SELECT md5({_NORM}) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


def doc_ngram_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), k=NGRAM_K, threshold=JACCARD_T
    )


_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, len(ws) - 1)])) AS shingle
  FROM toks WHERE len(ws) >= {NGRAM_K}
),
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc)
"""

_NGRAM_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
common AS (
  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2, common,
       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM common
JOIN sizes sa ON d1 = sa.doc
JOIN sizes sb ON d2 = sb.doc
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {JACCARD_T}
"""


CONTAIN_T = 0.6


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment pairs (Broder): the duplicate class
    symmetric Jaccard misses — a short document embedded in a long one.
    Same shingle self-join plan as the Jaccard path."""
    return dd.ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), k=NGRAM_K, threshold=CONTAIN_T
    )


_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE},
common AS (
  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2, common,
       CAST(common AS DOUBLE) / sa.n AS c1,
       CAST(common AS DOUBLE) / sb.n AS c2
FROM common
JOIN sizes sa ON d1 = sa.doc
JOIN sizes sb ON d2 = sb.doc
WHERE CAST(common AS DOUBLE) / sa.n >= {CONTAIN_T}
   OR CAST(common AS DOUBLE) / sb.n >= {CONTAIN_T}
"""


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction end-to-end with REAL pattern matching: deterministic
    PII (doc_id-derived emails, phones, IPv4s, SSNs, and both Luhn-valid
    and Luhn-invalid card numbers) is injected into the synthetic corpus
    JVM-side, then ``pii_scrub`` must find and redact it — with
    ``n_cards_luhn`` counting ONLY the valid card (the %13 injection is
    a digit run that fails the checksum). The oracle performs the same
    injection + RE2 regexes + an identical unrolled Luhn sum in DuckDB —
    patterns are restricted to syntax both engines evaluate identically,
    and the full scrubbed text is hash-compared."""
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-867-5309")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" from 192.168.0.1")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 4 == 1, F.lit(" ssn 078-05-1120")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" card 4539-1488-0343-6467")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" ref 1234-5678-9012-3456")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return tx.pii_scrub(injected)


def _luhn_sql(var: str) -> str:
    """DuckDB mirror of text.luhn_valid: unrolled 16-term Luhn sum over
    the separator-stripped candidate ``var``."""
    digits = f"replace(replace({var}, '-', ''), ' ', '')"
    terms = []
    for i in range(1, 17):
        d = f"CAST(substring({digits}, {i}, 1) AS INT)"
        if i % 2 == 1:
            terms.append(f"CASE WHEN {d}*2 > 9 THEN {d}*2 - 9 ELSE {d}*2 END")
        else:
            terms.append(d)
    return f"(({' + '.join(terms)}) % 10 = 0)"


_PII_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.0.1' ELSE '' END
         || CASE WHEN doc_id % 4 = 1 THEN ' ssn 078-05-1120' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' card 4539-1488-0343-6467' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ref 1234-5678-9012-3456' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{tx.EMAIL_PATTERN}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{tx.PHONE_PATTERN}')) AS INT) AS n_phones,
  CAST(len(regexp_extract_all(text, '{tx.IPV4_PATTERN}')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(text, '{tx.SSN_PATTERN}')) AS INT) AS n_ssns,
  CAST(len(list_filter(regexp_extract_all(text, '{tx.CARD_PATTERN}'),
                       x -> {_luhn_sql('x')})) AS INT) AS n_cards_luhn,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '{tx.EMAIL_PATTERN}', '<EMAIL>', 'g'),
      '{tx.CARD_PATTERN}', '<CARD>', 'g'),
      '{tx.SSN_PATTERN}', '<SSN>', 'g'),
      '{tx.PHONE_PATTERN}', '<PHONE>', 'g'),
      '{tx.IPV4_PATTERN}', '<IP>', 'g') AS scrubbed
FROM injected
"""


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 4


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for pre-training/RAG: 32-token windows,
    4-token overlap, shorter tail allowed, empty docs dropped. The
    oracle rebuilds every window by list slicing in DuckDB and the full
    chunk text is hash-compared."""
    return tx.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=CHUNK_TOKENS,
        overlap=CHUNK_OVERLAP,
    )


_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
  FROM documents WHERE length(trim(text, ' ')) > 0
),
s AS (
  SELECT doc_id, toks, start FROM (
    SELECT doc_id, toks,
           unnest(range(0, len(toks), {CHUNK_TOKENS - CHUNK_OVERLAP})) AS start
    FROM t
  ) WHERE start = 0 OR start + {CHUNK_OVERLAP} < len(toks)
)
SELECT doc_id,
       CAST(start // {CHUNK_TOKENS - CHUNK_OVERLAP} AS INT) AS chunk_id,
       CAST(len(toks[start + 1 : start + {CHUNK_TOKENS}]) AS INT) AS n_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM s
"""


TFIDF_K = 3


def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf (ratio-form
    idf: two IEEE double ops over exact counts, so both engines produce
    identical scores and the per-document ranking is hash-verified)."""
    return tx.tf_idf_top_terms(load_table(spark, sf_dir, "documents"), k=TFIDF_K)


_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * (CAST(n.nd + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT term, doc_id, tf, df, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
) WHERE rn <= {TFIDF_K}
"""


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-style scalar quantization, flattened to
    (vec_id, dim, code, vmin, vmax) rows so the driver hash-checks every
    code against DuckDB's identical floor((v-vmin)*L/(vmax-vmin)+0.5)."""
    q = sim.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "vmin",
        "vmax",
        F.posexplode("codes").alias("dim", "code"),
    )


_QUANTIZE_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_min(CAST(embedding AS DOUBLE[])) AS vmin,
         list_max(CAST(embedding AS DOUBLE[])) AS vmax
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
)
SELECT vec_id, vmin, vmax, CAST(t.i - 1 AS INT) AS dim,
       CASE WHEN vmax = vmin THEN 0
            ELSE CAST(floor((v[t.i] - vmin) * {float(255)} / (vmax - vmin) + 0.5) AS INT)
       END AS code
FROM e, range(1, {EMB_DIMS} + 1) t(i)
"""


CONTAM_BENCH_MAX = 20  # doc_id < 20 plays the held-out benchmark suite
CONTAM_MIN_OVERLAP = 2


def doc_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: corpus docs (id >= 20) sharing >= 2
    trigram shingles with any 'benchmark' doc (id < 20). Benchmark
    shingles broadcast; the corpus shingle table never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return dd.benchmark_contamination(
        d.where(F.col("doc_id") >= CONTAM_BENCH_MAX),
        d.where(F.col("doc_id") < CONTAM_BENCH_MAX),
        k=NGRAM_K,
        min_overlap=CONTAM_MIN_OVERLAP,
    )


_CONTAM_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, len(ws) - 1)])) AS shingle
  FROM toks WHERE len(ws) >= {NGRAM_K}
),
corp AS (SELECT doc, shingle FROM sh WHERE doc >= {CONTAM_BENCH_MAX}),
bench AS (SELECT doc AS bench_id, shingle FROM sh WHERE doc < {CONTAM_BENCH_MAX})
SELECT corp.doc AS doc_id, bench.bench_id, COUNT(*) AS n_shared
FROM corp JOIN bench USING (shingle)
GROUP BY 1, 2
HAVING COUNT(*) >= {CONTAM_MIN_OVERLAP}
"""


def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perms=NUM_PERMS,
        k=NGRAM_K,
        bands=BANDS,
        threshold=JACCARD_T,
    )


def _minhash_lsh_sql() -> str:
    rows = NUM_PERMS // BANDS
    pa, pb = dd._perm_constants(NUM_PERMS)
    base_h = f"({_h64('shingle')} % {dd.MINHASH_PRIME})"
    sig_aggs = ", ".join(
        f"MIN(({base_h} * {pa[p]} + {pb[p]}) % {dd.MINHASH_PRIME}) AS sig{p:02d}"
        for p in range(NUM_PERMS)
    )
    band_rows = []
    for b in range(BANDS):
        cols = ", ".join(f"sig{p:02d}" for p in range(b * rows, (b + 1) * rows))
        band_rows.append(
            f"SELECT doc, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc, {sig_aggs} FROM sh GROUP BY doc),
banded AS ({banded}),
cands AS (
  SELECT DISTINCT a.doc AS d1, b.doc AS d2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
),
common AS (
  SELECT c.d1, c.d2, COUNT(*) AS common
  FROM cands c
  JOIN sh s1 ON s1.doc = c.d1
  JOIN sh s2 ON s2.doc = c.d2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
)
SELECT common.d1, common.d2,
       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM common
JOIN sizes sa ON common.d1 = sa.doc
JOIN sizes sb ON common.d2 = sb.doc
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {JACCARD_T}
"""


def doc_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy report: estimated vs exact Jaccard (and
    the signed error) for every verified near-dup pair — the num_perms
    tuning loop, hash-verified bit-for-bit."""
    return dd.minhash_estimate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T,
    )


def _minhash_estimate_sql() -> str:
    rows = NUM_PERMS // BANDS
    pa, pb = dd._perm_constants(NUM_PERMS)
    base_h = f"({_h64('shingle')} % {dd.MINHASH_PRIME})"
    sig_aggs = ", ".join(
        f"MIN(({base_h} * {pa[p]} + {pb[p]}) % {dd.MINHASH_PRIME}) AS sig{p:02d}"
        for p in range(NUM_PERMS)
    )
    band_rows = []
    for b in range(BANDS):
        cols = ", ".join(f"sig{p:02d}" for p in range(b * rows, (b + 1) * rows))
        band_rows.append(
            f"SELECT doc, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    match_sum = " + ".join(
        f"CASE WHEN sa.sig{p:02d} = sb.sig{p:02d} THEN 1 ELSE 0 END"
        for p in range(NUM_PERMS)
    )
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc, {sig_aggs} FROM sh GROUP BY doc),
banded AS ({banded}),
cands AS (
  SELECT DISTINCT a.doc AS d1, b.doc AS d2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
),
common AS (
  SELECT c.d1, c.d2, COUNT(*) AS common
  FROM cands c
  JOIN sh s1 ON s1.doc = c.d1
  JOIN sh s2 ON s2.doc = c.d2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT common.d1, common.d2,
         CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
  FROM common
  JOIN sizes sa ON common.d1 = sa.doc
  JOIN sizes sb ON common.d2 = sb.doc
  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {JACCARD_T}
)
SELECT p.d1, p.d2, p.jaccard,
       CAST({match_sum} AS BIGINT) AS sig_matches,
       CAST({match_sum} AS DOUBLE) / {NUM_PERMS} AS est_jaccard,
       CAST({match_sum} AS DOUBLE) / {NUM_PERMS} - p.jaccard AS est_error
FROM pairs p
JOIN sigs sa ON p.d1 = sa.doc
JOIN sigs sb ON p.d2 = sb.doc
"""


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(load_table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b:02d}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b:02d} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH w AS (
  SELECT doc_id AS doc, unnest(list_distinct({_TOKS})) AS word FROM documents
), h AS (
  SELECT doc, {_h64("word")} AS h FROM w
), bits AS (
  SELECT doc, {bit_sums} FROM h GROUP BY doc
)
SELECT doc, {fp} AS simhash FROM bits
"""


def doc_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-pair counts per hamming distance. The full pair pipeline runs
    (fingerprint → chunk banding → verified join); the final histogram
    keeps the driver/bench result tiny — the synthetic corpus yields
    ~270k qualifying pairs at sf0.1 and shipping those through the
    gateway would measure serialization, not the operator. Raw pairs
    remain available via :func:`dd.simhash_near_pairs` (unit-tested)."""
    pairs = dd.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3, bits=SIMHASH_BITS
    )
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


def _simhash_pairs_sql() -> str:
    width = SIMHASH_BITS // 4
    mask = (1 << width) - 1
    chunks = " UNION ALL ".join(
        f"SELECT doc, simhash, {i} AS ci, (simhash >> {i * width}) & {mask} AS cv FROM fps"
        for i in range(4)
    )
    return f"""
WITH base AS ({_simhash_sql()}),
fps AS (SELECT doc, simhash FROM base),
chunked AS ({chunks}),
pairs AS (
  SELECT DISTINCT a.doc AS d1, b.doc AS d2,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunked a JOIN chunked b
    ON a.ci = b.ci AND a.cv = b.cv AND a.doc < b.doc
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
)
SELECT CAST(hamming AS INTEGER) AS hamming, COUNT(*) AS n_pairs
FROM pairs GROUP BY 1
"""


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters: MinHash-LSH verified pairs as the
    edge list, hash-min connected components for the labels. ``component``
    is the canonical survivor id (min doc in the cluster)."""
    pairs = dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perms=NUM_PERMS,
        k=NGRAM_K,
        bands=BANDS,
        threshold=JACCARD_T,
    )
    cc = dd.connected_components(pairs, src="d1", dst="d2")
    return cc.select(F.col("node").alias("doc"), F.col("comp").alias("component"))


def _dup_clusters_sql(pair_filter: str | None = None) -> str:
    # Recursive min-label walk: enumerate (node, reachable-label) pairs and
    # take MIN per node — exact for the small verified-pair graphs the
    # LSH stage emits. ONE copy of the walk (the _adjacent_pairs
    # one-kernel rule): ``pair_filter`` restricts the pair set — the
    # incremental-clustering oracle passes the even-universe predicate,
    # which equals computing pairs over the even universe because
    # signatures are per-document.
    pairs = (
        f"SELECT * FROM ({_minhash_lsh_sql()}) WHERE {pair_filter}"
        if pair_filter
        else _minhash_lsh_sql()
    )
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
)
SELECT node AS doc, MIN(comp) AS component FROM walk GROUP BY node
"""


def _dup_clusters_incr_sql() -> str:
    return _dup_clusters_sql(pair_filter="d1 % 2 = 0 AND d2 % 2 = 0")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_bruteforce(vectors, queries, k=KNN_K)


_KNN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND vec_id < {N_QUERIES}
), v AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
), s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ve) AS score
  FROM q, v WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM s
) WHERE rn <= {KNN_K}
"""


def emb_knn_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTRIBUTE-FILTERED exact kNN driver-verified — the "nearest
    documents in the same language / domain / license" search every
    curation pipeline runs (filtered ANN): top-k cosine neighbors per
    query among corpus rows sharing the query's ``label``. The filter
    lives INSIDE candidate generation (the cross join becomes a
    broadcast equi-join keyed on the attribute — each corpus row is
    scored only against queries that can accept it, ~Q/L scorings per
    row), not a post-filter that silently returns fewer than k. Scores
    replay via the proven ``list_cosine_similarity`` parity."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_filtered(vectors, queries, "label", k=KNN_K)


_KNN_FILTERED_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS ql, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND vec_id < {N_QUERIES}
), v AS (
  SELECT vec_id AS neighbor_id, label AS vl, CAST(embedding AS DOUBLE[]) AS ve
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
), s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ve) AS score
  FROM q JOIN v ON v.vl = q.ql
  WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM s
) WHERE rn <= {KNN_K}
"""


N_HARD_NEG = 5


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR-style): per query the corpus rows
    ranked (k, k+n] by exact cosine — the nearest non-neighbors a
    contrastive trainer should sample against. Same broadcast-queries /
    corpus-scan / one-shuffle plan as emb_knn_bruteforce; the band cut
    is fully tie-broken so every row hash-verifies."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_hard_negatives(
        vectors, queries, k_pos=KNN_K, n_neg=N_HARD_NEG
    )


_HARD_NEG_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND vec_id < {N_QUERIES}
), v AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
), s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ve) AS score
  FROM q, v WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, score,
       CAST(rn - {KNN_K} AS INT) AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM s
) WHERE rn > {KNN_K} AND rn <= {KNN_K + N_HARD_NEG}
"""


def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_T
    )


_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0)
SELECT a.vec_id AS d1, b.vec_id AS d2, list_cosine_similarity(a.v, b.v) AS score
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {NEAR_DUP_T}
"""


def emb_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for near-dup pairs: banded sign-LSH candidates + exact
    verify, no corpus broadcast/collect (cf. ``emb_near_dup_pairs``, the
    exact brute-force baseline)."""
    return sim.lsh_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=NEAR_DUP_T,
        bands=LSH_BANDS,
        rows_per_band=LSH_BAND_ROWS,
        dims=EMB_DIMS,
    )


def _banded_buckets_sql() -> str:
    """Per-(vector, band) bucket rows, bit j of band b = sign of the dot
    with md5-derived Rademacher plane b*rows+j — byte-identical to the
    Spark kernel's plane set."""
    selects = []
    for b in range(LSH_BANDS):
        terms = []
        for j in range(LSH_BAND_ROWS):
            p = b * LSH_BAND_ROWS + j
            signs = sim._plane_signs(p, EMB_DIMS)
            lit = "[" + ", ".join(str(float(s)) for s in signs) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {lit}) > 0 "
                f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {b} AS band, {' + '.join(terms)} AS bucket FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0"
        )
    return " UNION ALL ".join(selects)


def _lsh_near_dup_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
bb AS ({_banded_buckets_sql()}),
cand AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT d1, d2, score FROM (
  SELECT d1, d2,
         LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(-1.0 AS DOUBLE),
               list_cosine_similarity(e1.v, e2.v))) AS score
  FROM cand JOIN e e1 ON e1.vec_id = cand.d1 JOIN e e2 ON e2.vec_id = cand.d2
)
WHERE score >= {NEAR_DUP_T}
"""


IVF_CENTROIDS = 16
IVF_PROBE = 4


def emb_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_assign(
        load_table(spark, sf_dir, "embeddings"), n_centroids=IVF_CENTROIDS
    )


_IVF_ASSIGN_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
scored AS (
  SELECT e.vec_id, cent.cid, list_cosine_similarity(e.v, cent.cv) AS s,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY s DESC, cent.cid) AS rn
  FROM e, cent
)
SELECT vec_id, cid AS centroid, s AS score FROM scored WHERE rn = 1
"""


def emb_ivf_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell IVF index health: size, worst and mean cosine-to-centroid
    — assignment scores are the already-verified Arrow pass; the mean is
    an ascending-member-id ordered fold, reproducible cross-engine."""
    return sim.ivf_cluster_quality(
        load_table(spark, sf_dir, "embeddings"), n_centroids=IVF_CENTROIDS
    )


_IVF_QUALITY_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
scored AS (
  SELECT e.vec_id, cent.cid, list_cosine_similarity(e.v, cent.cv) AS s,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY s DESC, cent.cid) AS rn
  FROM e, cent
),
assign AS (SELECT vec_id, cid AS centroid, s AS score FROM scored WHERE rn = 1)
SELECT centroid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(score) AS min_score,
       list_sum(list(score ORDER BY vec_id)) / COUNT(*) AS mean_score
FROM assign GROUP BY centroid
"""


PQ_M = 4
PQ_K = 8


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codes + total squared quantization error per
    vector (m=4 subspaces, k=8 deterministic seed codes each): every
    code assignment (argmin over dim-sequential exact distances) and the
    error fold are hash-verified cross-engine. Codes explode to one row
    per (vector, subspace) — the registry convention for array-valued
    results (the driver compare stringifies arrays engine-dependently)."""
    enc = sim.pq_encode(load_table(spark, sf_dir, "embeddings"), m=PQ_M, k=PQ_K)
    return enc.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code"), "pq_error"
    )


def _pq_codes_sql() -> str:
    sub = EMB_DIMS // PQ_M
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {PQ_K})
),
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code_idx, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY d2, code_idx) AS rn
  FROM d
),
tot AS (
  SELECT vec_id, list_sum(list(d2 ORDER BY subspace)) AS pq_error
  FROM best WHERE rn = 1 GROUP BY vec_id
)
SELECT b.vec_id, CAST(b.subspace AS INT) AS subspace,
       CAST(b.code_idx AS INT) AS code, tot.pq_error
FROM best b JOIN tot USING (vec_id)
WHERE b.rn = 1
"""


def emb_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate kNN: per-query distance tables + m code
    lookups per corpus vector — the search side of emb_pq_codes; every
    approximate distance and the top-k ordering hash-verified."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_pq(vectors, queries, k=KNN_K, m=PQ_M, n_codes=PQ_K)


def _knn_pq_sql() -> str:
    sub = EMB_DIMS // PQ_M
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {PQ_K})
),
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code_idx, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY d2, code_idx) AS rn
  FROM d
),
adc AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM (SELECT vec_id FROM e WHERE vec_id < {N_QUERIES}) q
  JOIN best b ON b.rn = 1 AND b.vec_id <> q.vec_id
  JOIN d t ON t.vec_id = q.vec_id AND t.subspace = b.subspace
          AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2 FROM (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""


PQ_REFINE_ITERS = 2


def emb_pq_codes_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes from Lloyd-REFINED codebooks (2 per-subspace k-means
    iterations over the seed): the trained-codebook path, verified like
    emb_pq_codes — every refined sub-centroid, code assignment and error
    fold replayed bit-identically by the oracle's ordered-fold CTE
    chain (the per-subspace analog of emb_knn_ivf_refined's Lloyd
    replay)."""
    enc = sim.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        m=PQ_M, k=PQ_K, refine_iters=PQ_REFINE_ITERS,
    )
    return enc.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code"), "pq_error"
    )


def _pq_refined_cb_ctes(n_iters: int) -> str:
    """CTE chain computing ``cb{n_iters}``: per-subspace Lloyd with
    lowest-code-index tie-breaks; each (code, dim) mean is list_sum over
    member values ordered by vec_id (sequential left fold — bit-matching
    the Spark side's sorted-fold aggregate), and a code keeps its
    previous sub-centroid in any subspace where it loses all members."""
    sub = EMB_DIMS // PQ_M
    ctes = [
        f"""cb0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {PQ_K}))"""
    ]
    for i in range(1, n_iters + 1):
        prev = f"cb{i - 1}"
        ctes.append(
            f"""pd{i} AS (
  SELECT e.vec_id, t.s AS subspace, c.code_idx,
         list_sum(list_transform(range({sub}), j ->
           (e.v[CAST(t.s*{sub} + j + 1 AS INT)] - c.cv[CAST(t.s*{sub} + j + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + j + 1 AS INT)] - c.cv[CAST(t.s*{sub} + j + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN {prev} c)"""
        )
        ctes.append(
            f"""pa{i} AS (
  SELECT vec_id, subspace, code_idx FROM (
    SELECT vec_id, subspace, code_idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d2, code_idx) AS rn
    FROM pd{i}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""pm{i} AS (
  SELECT a.code_idx, t.dim,
         list_sum(list(e.v[CAST(t.dim AS INT)] ORDER BY e.vec_id)) / COUNT(*) AS mval
  FROM pa{i} a JOIN e USING (vec_id), range(1, {EMB_DIMS} + 1) t(dim)
  WHERE (t.dim - 1) // {sub} = a.subspace
  GROUP BY a.code_idx, t.dim)"""
        )
        ctes.append(
            f"""cb{i} AS (
  SELECT p.code_idx,
         list(COALESCE(m.mval, p.cv[CAST(t.dim AS INT)]) ORDER BY t.dim) AS cv
  FROM {prev} p CROSS JOIN range(1, {EMB_DIMS} + 1) t(dim)
  LEFT JOIN pm{i} m ON m.code_idx = p.code_idx AND m.dim = t.dim
  GROUP BY p.code_idx)"""
        )
    return ",\n".join(ctes)


def _pq_codes_refined_sql() -> str:
    sub = EMB_DIMS // PQ_M
    n = PQ_REFINE_ITERS
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
{_pq_refined_cb_ctes(n)},
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb{n} cb
),
best AS (
  SELECT vec_id, subspace, code_idx, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY d2, code_idx) AS rn
  FROM d
),
tot AS (
  SELECT vec_id, list_sum(list(d2 ORDER BY subspace)) AS pq_error
  FROM best WHERE rn = 1 GROUP BY vec_id
)
SELECT b.vec_id, CAST(b.subspace AS INT) AS subspace,
       CAST(b.code_idx AS INT) AS code, tot.pq_error
FROM best b JOIN tot USING (vec_id)
WHERE b.rn = 1
"""


IVFPQ_PROBE = 4


def emb_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ search (the Faiss IndexIVFPQ shape, and the plan
    a 100 TB ANN deployment runs): coarse-probe the cells nearest each
    query, then rank members of the probed cells by ADC over their PQ
    codes — both stages' savings multiply. Every probe choice, table
    lookup and the ordered approx-distance fold is hash-verified."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_ivf_pq(
        vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS,
        n_probe=IVFPQ_PROBE, m=PQ_M, n_codes=PQ_K,
    )


def _knn_ivfpq_sql() -> str:
    sub = EMB_DIMS // PQ_M
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT e.vec_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cid) AS rn
    FROM e, cent) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS centroid FROM (
    SELECT q.query_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.cid) AS rn
    FROM q, cent) WHERE rn <= {IVFPQ_PROBE}
),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {PQ_K})
),
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code_idx FROM (
    SELECT vec_id, subspace, code_idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d2, code_idx) AS rn
    FROM d) WHERE rn = 1
),
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
  JOIN best b ON b.vec_id = a.vec_id
  JOIN d t ON t.vec_id = p.query_id AND t.subspace = b.subspace
          AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2 FROM (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""


def emb_knn_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-TRAINED IVF-PQ search: Lloyd-refined coarse centroids AND
    Lloyd-refined per-subspace codebooks feeding the composed
    probe-then-ADC search — the production configuration (training
    lifts recall at both stages for the same probe/bit budget). The
    repo's hardest oracle: both Lloyd CTE chains + probe ranking + ADC
    lookup + the ordered distance fold, all replayed in one SQL
    statement."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_ivf_pq(
        vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS,
        n_probe=IVFPQ_PROBE, m=PQ_M, n_codes=PQ_K,
        coarse_refine_iters=IVF_REFINE_ITERS,
        pq_refine_iters=PQ_REFINE_ITERS,
    )


def _knn_ivfpq_trained_sql() -> str:
    sub = EMB_DIMS // PQ_M
    nc = IVF_REFINE_ITERS
    npq = PQ_REFINE_ITERS
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
{_ivf_refined_cent_ctes(nc)},
{_pq_refined_cb_ctes(npq)},
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
    FROM e, cent{nc} c) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS centroid FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
    FROM q, cent{nc} c) WHERE rn <= {IVFPQ_PROBE}
),
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb{npq} cb
),
best AS (
  SELECT vec_id, subspace, code_idx FROM (
    SELECT vec_id, subspace, code_idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d2, code_idx) AS rn
    FROM d) WHERE rn = 1
),
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
  JOIN best b ON b.vec_id = a.vec_id
  JOIN d t ON t.vec_id = p.query_id AND t.subspace = b.subspace
          AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2 FROM (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""


def _ivfpq_arm_sql(residual: bool) -> str:
    """Trained-coarse IVF-PQ search chain as SQL, parameterized on the
    encoding: raw (codes quantize x against raw seed codewords) vs
    RESIDUAL (codes quantize x − centroid(x) against residual seeds
    drawn just past the coarse seed ids; query ADC becomes per probed
    cell). Shared by the residual registry oracle and the raw-vs-
    residual recall report, so the two arms differ ONLY in encoding."""
    sub = EMB_DIMS // PQ_M
    nc = IVF_REFINE_ITERS
    ix = f"[CAST(t.s*{sub} + i + 1 AS INT)]"
    head = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
{_ivf_refined_cent_ctes(nc)},
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
    FROM e, cent{nc} c) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS centroid FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
    FROM q, cent{nc} c) WHERE rn <= {IVFPQ_PROBE}
),"""
    if residual:
        body = f"""
resid AS (
  SELECT a.vec_id, a.centroid,
         list_transform(range({EMB_DIMS}),
                        i -> e.v[CAST(i + 1 AS INT)] - c.cv[CAST(i + 1 AS INT)]) AS rv
  FROM assign a JOIN e USING (vec_id) JOIN cent{nc} c ON c.cid = a.centroid
),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, rv AS cv
  FROM (SELECT vec_id, rv FROM resid ORDER BY vec_id
        LIMIT {PQ_K} OFFSET {IVF_CENTROIDS})
),
d AS (
  SELECT r.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (r.rv{ix} - cb.cv{ix}) * (r.rv{ix} - cb.cv{ix}))) AS d2
  FROM resid r CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code_idx FROM (
    SELECT vec_id, subspace, code_idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d2, code_idx) AS rn
    FROM d) WHERE rn = 1
),
dq AS (
  SELECT p.query_id, p.centroid, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           ((q.qv{ix} - c.cv{ix}) - cb.cv{ix})
           * ((q.qv{ix} - c.cv{ix}) - cb.cv{ix}))) AS d2
  FROM probes p JOIN q USING (query_id)
  JOIN cent{nc} c ON c.cid = p.centroid
  CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
  JOIN best b ON b.vec_id = a.vec_id
  JOIN dq t ON t.query_id = p.query_id AND t.centroid = p.centroid
          AND t.subspace = b.subspace AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)"""
    else:
        body = f"""
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_idx, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {PQ_K})
),
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v{ix} - cb.cv{ix}) * (e.v{ix} - cb.cv{ix}))) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code_idx FROM (
    SELECT vec_id, subspace, code_idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d2, code_idx) AS rn
    FROM d) WHERE rn = 1
),
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
  JOIN best b ON b.vec_id = a.vec_id
  JOIN d t ON t.vec_id = p.query_id AND t.subspace = b.subspace
          AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)"""
    return f"""{head}{body}
SELECT query_id, neighbor_id, approx_d2 FROM (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""


def emb_knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ search (the Faiss IndexIVFPQ default,
    Jégou et al. 2011 §IV-A): codes quantize x − centroid(x) against a
    residual-space codebook, and the query ADC tables become per probed
    cell — the encoding that buys most of PQ's accuracy at a fixed bit
    budget once the coarse quantizer is trained. Trained coarse (Lloyd)
    + residual seed codebook; every residual subtract, per-cell ADC
    lookup and the ordered distance fold is hash-verified."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_ivf_pq(
        vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS,
        n_probe=IVFPQ_PROBE, m=PQ_M, n_codes=PQ_K,
        coarse_refine_iters=IVF_REFINE_ITERS, residual=True,
    )


IVFPQ_SPLIT = 250  # base corpus = vec_id < SPLIT; the nightly delta appends


def emb_knn_ivfpq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN nightly-ingest chain, end to end: stage an IVF-PQ index over
    the BASE corpus (vec_id < {split}), ``ivfpq_append`` the delta batch
    against the FROZEN quantizer from the stage's sidecar (|delta|
    encode + one parquet append — the indexed corpus is never re-read),
    then search the appended index with the sidecar's matrices
    (``load_ivfpq_index(with_quantizer=True)``). Because the seed
    centroids/codebook are the lowest-id vectors and those live in the
    base, the result must equal a from-scratch search over the grown
    corpus — so the ORACLE is the full-corpus IVF-PQ SQL replay: any
    dropped/mis-encoded delta vector or drifted quantizer breaks the
    hash. At 100 TB this is the ANN family's normal operating mode
    (train once, grow nightly); append == rebuild is differential-
    tested bit-for-bit in tests/test_similarity.py."""
    vectors = load_table(spark, sf_dir, "embeddings")
    base = vectors.where(F.col("vec_id") < IVFPQ_SPLIT)
    delta = vectors.where(F.col("vec_id") >= IVFPQ_SPLIT)
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    # a fresh per-call scratch dir holds the index and its two sidecars
    # (``<stage>_meta``, ``<stage>_quantizer``): the lazy result reads
    # them, so they go at interpreter exit, and a second call cannot wipe
    # what an earlier call's result still reads
    from gdutils_spark.queries_rt import _work_dir

    stage = os.path.join(_work_dir("ivfpq_appended"), "index")
    sim.ivfpq_index(
        base, n_centroids=IVF_CENTROIDS, m=PQ_M, n_codes=PQ_K,
        stage_path=stage,
    )
    sim.ivfpq_append(spark, stage, delta)
    codes, coarse, codebook = sim.load_ivfpq_index(
        spark, stage, m=PQ_M, n_codes=PQ_K, with_quantizer=True
    )
    return sim.knn_ivf_pq(
        vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS,
        n_probe=IVFPQ_PROBE, m=PQ_M, n_codes=PQ_K,
        index=codes, coarse=coarse, codebook=codebook,
    )


def emb_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vs-RESIDUAL encoding ablation at a fixed probe/bit budget:
    recall@k of the trained-coarse IVF-PQ search with raw seed
    codewords vs residual seed codewords, against the exact brute-force
    truth — the report that grades the Faiss-default encoding choice on
    THIS corpus (residual wins once coarse cells capture real energy;
    the coarse quantizer is trained once and shared by both arms).
    Exact-integer hit totals, one final division."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    truth = sim.knn_bruteforce(vectors, queries, k=KNN_K)
    denom = float(N_QUERIES * KNN_K)
    coarse = sim.ivf_refine_centroids(
        vectors, n_centroids=IVF_CENTROIDS, n_iters=IVF_REFINE_ITERS
    )
    # both arms search the SAME guarded query set — collect it once and
    # hand it to each arm (r15, guide §1.2: the family's cost is driver
    # job count; the `_shingles=` one-invocation-sharing convention)
    qpdf = sim._collect_guarded_queries(
        sim._well_formed(queries, "vec_id", "embedding"),
        "vec_id", "embedding", 100_000, "emb_ivfpq_residual_recall",
    )
    # the two arms' remaining construction-time jobs (raw codebook seed
    # vs residual codebook head + probe collect) are independent given
    # the shared coarse matrices — build them concurrently (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _arm(variant: str, res: bool) -> DataFrame:
        approx = sim.knn_ivf_pq(
            vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS,
            n_probe=IVFPQ_PROBE, m=PQ_M, n_codes=PQ_K,
            coarse=coarse, residual=res, _qpdf=qpdf,
        )
        hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
        return hits.agg(
            F.lit(variant).alias("variant"),
            F.count(F.lit(1)).alias("n_hits"),
            (F.count(F.lit(1)).cast("double") / F.lit(denom)).alias(
                "mean_recall"
            ),
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        raw_fut = pool.submit(_arm, "raw", False)
        res_fut = pool.submit(_arm, "residual", True)
        return raw_fut.result().unionByName(res_fut.result())


def _ivfpq_residual_recall_sql() -> str:
    return f"""
WITH exact AS ({_KNN_SQL}),
rawarm AS ({_ivfpq_arm_sql(False)}),
resarm AS ({_ivfpq_arm_sql(True)})
SELECT 'raw' AS variant, CAST(h.n AS BIGINT) AS n_hits,
       CAST(h.n AS DOUBLE) / CAST({N_QUERIES * KNN_K} AS DOUBLE) AS mean_recall
FROM (SELECT COUNT(*) AS n FROM exact e
      JOIN rawarm a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id) h
UNION ALL
SELECT 'residual' AS variant, CAST(h.n AS BIGINT) AS n_hits,
       CAST(h.n AS DOUBLE) / CAST({N_QUERIES * KNN_K} AS DOUBLE) AS mean_recall
FROM (SELECT COUNT(*) AS n FROM exact e
      JOIN resarm a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id) h
"""


def emb_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_ivf(
        vectors, queries, k=KNN_K, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE
    )


def _knn_ivf_sql(n_probe: int) -> str:
    """Seed-centroid IVF probed kNN as SQL, parameterized on the probe
    count (shared by the fixed-probe oracle and the recall-curve sweep)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT e.vec_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cid) AS rn
    FROM e, cent) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS centroid FROM (
    SELECT q.query_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.cid) AS rn
    FROM q, cent) WHERE rn <= {n_probe}
)
SELECT query_id, neighbor_id, score FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.v) AS score,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(q.qv, e.v) DESC, a.vec_id) AS rn
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid
  JOIN e ON e.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id
) WHERE rn <= {KNN_K}
"""


_KNN_IVF_SQL = _knn_ivf_sql(IVF_PROBE)

IVF_PROBE_SWEEP = (1, 2, 4)


def emb_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tuning report: recall@k vs probe budget for the seed-centroid
    IVF index — the curve an ANN deployment reads to pick ``n_probe``
    (cost grows ~linearly with probes; recall saturates). One row per
    probe setting with exact-integer hit totals and the derived mean
    recall, so the result is deterministic (single FP division, no
    FP-sum ordering).

    Plan shape: ground truth is computed once, and ALL probe arms come
    from ONE ``sim.knn_ivf_sweep`` pass (one assignment map, one scoring
    of the largest budget's candidates; smaller budgets are prefix
    subsets of the probe ranking, fanned out map-side) — sweeping never
    re-scans the corpus per arm. The hit join runs over top-k-sized
    inputs; arms with zero hits still report (left join from the arm
    spine, zero-filled)."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    exact = sim.knn_bruteforce(vectors, queries, k=KNN_K)
    sweep = sim.knn_ivf_sweep(
        vectors,
        queries,
        k=KNN_K,
        n_centroids=IVF_CENTROIDS,
        probes=IVF_PROBE_SWEEP,
    )
    hits = (
        sweep.join(
            exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        )
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("long").alias("total_hits"))
    )
    arm_spine = queries.sparkSession.createDataFrame(
        [(int(p),) for p in IVF_PROBE_SWEEP], "n_probe int"
    )
    nq = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries")
    )
    th = F.coalesce(F.col("total_hits"), F.lit(0).cast("long"))
    return (
        arm_spine.join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "n_probe",
            th.alias("total_hits"),
            "n_queries",
            (th.cast("double") / (F.col("n_queries") * F.lit(KNN_K))).alias(
                "mean_recall"
            ),
        )
    )


def _ivf_recall_curve_sql() -> str:
    ctes = [f"exact AS ({_KNN_SQL})", "nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM exact)"]
    arms = []
    for p in IVF_PROBE_SWEEP:
        ctes.append(f"a{p} AS ({_knn_ivf_sql(p)})")
        ctes.append(
            f"h{p} AS (SELECT COUNT(*) AS c FROM exact e JOIN a{p} a "
            "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)"
        )
        arms.append(
            f"SELECT CAST({p} AS INT) AS n_probe, "
            f"CAST(h{p}.c AS BIGINT) AS total_hits, "
            f"CAST(nq.n AS BIGINT) AS n_queries, "
            f"CAST(h{p}.c AS DOUBLE) / (nq.n * {KNN_K}) AS mean_recall "
            f"FROM h{p}, nq"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(arms)


IVF_REFINE_ITERS = 2


def emb_knn_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probed kNN over Lloyd-refined IVF centroids: 2 k-means iterations
    (assign → ordered-fold per-cluster means) before clustering. Still
    deterministic end-to-end — the oracle reproduces the refined
    centroids bit-exactly because both engines fold member values in
    ascending vec_id order (``sim.ivf_refine_centroids``)."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_ivf(
        vectors,
        queries,
        k=KNN_K,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
        refine_iters=IVF_REFINE_ITERS,
    )


def _ivf_refined_cent_ctes(n_iters: int) -> str:
    """CTE chain computing ``cent{n_iters}``: Lloyd iterations with
    lowest-cid tie-breaks and per-dimension means as ``list_sum`` over
    member values ordered by vec_id — DuckDB's list_sum is a sequential
    left fold, bit-matching the Spark side's sorted-fold aggregate."""
    ctes = [
        f"cent0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS})"
    ]
    for i in range(1, n_iters + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""asg{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
    FROM e, {prev} c) WHERE rn = 1)"""
        )
        ctes.append(
            f"""mean{i} AS (
  SELECT a.cid, t.dim, list_sum(list(e.v[t.dim] ORDER BY e.vec_id)) / COUNT(*) AS m
  FROM asg{i} a JOIN e USING (vec_id), range(1, {EMB_DIMS} + 1) t(dim)
  GROUP BY a.cid, t.dim)"""
        )
        ctes.append(
            f"""cent{i} AS (
  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS cv
                           FROM mean{i} GROUP BY cid) m USING (cid))"""
        )
    return ",\n".join(ctes)


def _knn_ivf_refined_sql() -> str:
    n = IVF_REFINE_ITERS
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
{_ivf_refined_cent_ctes(n)},
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
    FROM e, cent{n} c) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS centroid FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
    FROM q, cent{n} c) WHERE rn <= {IVF_PROBE}
)
SELECT query_id, neighbor_id, score FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.v) AS score,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(q.qv, e.v) DESC, a.vec_id) AS rn
  FROM probes p
  JOIN assign a ON a.centroid = p.centroid
  JOIN e ON e.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id
) WHERE rn <= {KNN_K}
"""


def emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.lsh_buckets(
        load_table(spark, sf_dir, "embeddings"), planes=LSH_PLANES, dims=EMB_DIMS
    )


def _lsh_buckets_sql() -> str:
    terms = []
    for p in range(LSH_PLANES):
        signs = sim._plane_signs(p, EMB_DIMS)
        lit = "[" + ", ".join(str(float(s)) for s in signs) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {lit}) > 0 "
            f"THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        )
    return f"SELECT vec_id, {' + '.join(terms)} AS bucket FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0"


def emb_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k restricted to the query's sign-LSH bucket — the
    bucket equi-join plan shape for 100 TB (recall < 1 by construction,
    deterministic, so the oracle reproduces it exactly)."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_lsh(
        vectors, queries, k=KNN_K, planes=LSH_PLANES, dims=EMB_DIMS
    )


def _knn_lsh_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
b AS ({_lsh_buckets_sql()}),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, b.bucket
  FROM e JOIN b ON b.vec_id = e.vec_id WHERE e.vec_id < {N_QUERIES}
),
v AS (
  SELECT e.vec_id AS neighbor_id, e.v AS vv, b.bucket
  FROM e JOIN b ON b.vec_id = e.vec_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT q.query_id, v.neighbor_id,
         list_cosine_similarity(q.qv, v.vv) AS score,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(q.qv, v.vv) DESC, v.neighbor_id) AS rn
  FROM q JOIN v ON v.bucket = q.bucket AND v.neighbor_id <> q.query_id
) WHERE rn <= {KNN_K}
"""


def emb_knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al. 2007): each query also
    probes every Hamming-distance-1 bucket — the standard recall lift
    at a fixed hash budget. Candidates stay bucket-bounded (×(1+planes)
    on the query side only); the probe expansion, every bucket XOR and
    the scored ranking are hash-verified."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    return sim.knn_lsh(
        vectors, queries, k=KNN_K, planes=LSH_PLANES, dims=EMB_DIMS,
        multi_probe=True,
    )


def _knn_lsh_multiprobe_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
b AS ({_lsh_buckets_sql()}),
q0 AS (
  SELECT e.vec_id AS query_id, e.v AS qv, b.bucket
  FROM e JOIN b ON b.vec_id = e.vec_id WHERE e.vec_id < {N_QUERIES}
),
q AS (
  SELECT query_id, qv, bucket FROM q0
  UNION ALL
  SELECT query_id, qv, xor(bucket, (1 << CAST(t.i AS INT)))
  FROM q0 CROSS JOIN range({LSH_PLANES}) t(i)
),
v AS (
  SELECT e.vec_id AS neighbor_id, e.v AS vv, b.bucket
  FROM e JOIN b ON b.vec_id = e.vec_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT q.query_id, v.neighbor_id,
         list_cosine_similarity(q.qv, v.vv) AS score,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(q.qv, v.vv) DESC, v.neighbor_id) AS rn
  FROM q JOIN v ON v.bucket = q.bucket AND v.neighbor_id <> q.query_id
) WHERE rn <= {KNN_K}
"""


QUALITY_MIN_TOKENS = 5
QUALITY_MIN_SCORE = 0.0


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality cleaning: keep documents passing token-count and
    quality-score thresholds. Pure map over the text_stats projection —
    the filter composes with sampling/dedup into one scan at 100 TB."""
    stats = tx.text_stats(load_table(spark, sf_dir, "documents"))
    return stats.where(
        (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        & (F.col("quality_score") > QUALITY_MIN_SCORE)
    ).select("doc_id", "n_tokens", "quality_score")


_QUALITY_FILTER_SQL = f"""
WITH stats AS ({_TEXT_STATS_SQL})
SELECT doc_id, n_tokens, quality_score
FROM stats
WHERE n_tokens >= {QUALITY_MIN_TOKENS} AND quality_score > {QUALITY_MIN_SCORE}
"""


def doc_near_dup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup deliverable: the corpus with near-duplicate
    cluster members dropped (cluster survivor = min doc id). Pipeline:
    MinHash-LSH pairs → connected components → broadcast anti join of the
    non-survivor set against the full corpus. The dropped set is tiny
    relative to the corpus, so the anti join broadcasts — the 100 TB scan
    never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T
    )
    cc = dd.connected_components(pairs, src="d1", dst="d2")
    losers = cc.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


def _near_dup_drop_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
"""


# ---------------------------------------------------------------------------
# Sessionization / sampling / packing
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30
SAMPLE_RATES = {"en": 0.2, "es": 0.6, "fr": 0.6, "de": 0.6, "zh": 1.0}
SAMPLE_DEFAULT = 0.5
PACK_BUDGET = 2048
PACK_SHARDS = 8


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) with per-session
    aggregates — one shuffle on user_id for both window passes and the
    final groupBy."""
    e = load_table(spark, sf_dir, "events")
    return ss.session_stats(
        e, "user_id", "ts", gap_minutes=SESSION_GAP_MIN, value_col="value"
    )


_SESSIONS_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM marked
)
SELECT user_id, session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS started_at,
       MAX(ts) AS ended_at,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_idx
"""


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (hash-bucket thresholds) —
    the language-balancing step of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    kept = sp.stratified_sample(
        d, "lang", "doc_id", SAMPLE_RATES, default_rate=SAMPLE_DEFAULT
    )
    return kept.select("doc_id", "lang", "source")


def _stratified_sample_sql() -> str:
    bucket = f"({_h64('CAST(doc_id AS VARCHAR)')} % {sp.SAMPLE_BUCKETS})"
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(round(r * sp.SAMPLE_BUCKETS))}"
        for s, r in SAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE {bucket} < CASE {cases} ELSE {int(round(SAMPLE_DEFAULT * sp.SAMPLE_BUCKETS))} END
"""


def doc_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: shard by id-hash, fill batches by
    cumulative whitespace-token count, emit the batch manifest."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.token_count(F.col("text")).alias("n_tokens"))
    return sp.pack_stats(
        toks, "doc_id", "n_tokens", budget=PACK_BUDGET, shards=PACK_SHARDS
    )


def _pack_batches_sql() -> str:
    shard_key = "'shard:' || CAST(doc_id AS VARCHAR)"
    shard = f"(({_h64(shard_key)} % {sp.SAMPLE_BUCKETS}) % {PACK_SHARDS})"
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text, ' ')), '\\s+'))
         END AS n_tokens
  FROM documents
), sharded AS (
  SELECT doc_id, n_tokens, {shard} AS shard FROM toks
), cum AS (
  SELECT doc_id, n_tokens, shard,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM sharded
)
SELECT shard,
       CAST(floor(greatest(cum_tokens - 1, 0) / {PACK_BUDGET}) AS BIGINT) AS batch_idx,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_id,
       MAX(doc_id) AS last_id
FROM cum
GROUP BY shard, batch_idx
"""


# ---------------------------------------------------------------------------
# Multimodal / geo sinks
# ---------------------------------------------------------------------------


def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode end-to-end with a REAL header parse: documents
    become syntactically valid PNG streams (signature + IHDR with
    doc_id-derived dimensions, text bytes as the data segment), built
    JVM-side with concat/unhex — then ``decode_image_features`` must
    genuinely big-endian-parse the IHDR to recover width/height. The
    oracle predicts the dims arithmetically from doc_id, so a broken
    parser (wrong offset, wrong endianness) hash-mismatches immediately.
    (CRC bytes are zeroed — header parsers don't verify them.)"""
    from gdutils_spark.operators.multimodal import decode_image_features

    return decode_image_features(
        _png_media(load_table(spark, sf_dir, "documents"))
    )


def _png_media(d: DataFrame) -> DataFrame:
    """Documents → syntactically valid PNG streams (signature + IHDR
    with doc_id-derived dimensions, text bytes as the data segment),
    built JVM-side with concat/unhex. Shared fixture for the batch and
    streaming image-decode queries. (CRC bytes are zeroed — header
    parsers don't verify them.)"""

    def be4(c: F.Column) -> F.Column:
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    width = (F.lit(64) + F.col("doc_id") % 192).cast("long")
    height = (F.lit(64) + (F.col("doc_id") * 7) % 192).cast("long")
    payload = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),            # signature
        F.lit(b"\x00\x00\x00\x0dIHDR"),          # IHDR length + type
        be4(width),
        be4(height),
        F.lit(b"\x08\x06\x00\x00\x00"),          # depth 8, RGBA, no interlace
        F.lit(b"\x00\x00\x00\x00"),              # CRC (unchecked by parsers)
        F.encode("text", "utf-8"),               # data segment
    )
    # null-strict (r13 null-fixture hunt): a NULL-text/-id doc has no
    # media file; unfiltered, encode(NULL) nulls the payload on the
    # Spark side only while the oracle predicts a real header
    d = d.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    return d.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("png").alias("format"),
        F.lit("image").alias("kind"),
    )


_MM_IMAGE_SQL = """
SELECT doc_id AS media_id,
       'png' AS format,
       'png' AS detected,
       CAST(64 + doc_id % 192 AS INT) AS width,
       CAST(64 + (doc_id * 7) % 192 AS INT) AS height,
       CAST(octet_length(encode(text)) + 33 AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
"""


THUMB_MAX_DIM = 8


def _synth_pixel_pngs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-valid grayscale PNG fixture shared by the pixel-level
    multimodal queries: doc_id-derived dims, pixel (x, y) =
    (x*3 + y*5 + doc_id) % 256, scanline filter y % 5 so every PNG
    filter type — None/Sub/Up/Average/Paeth — must unfilter correctly
    for the arithmetic oracles to hash-match."""
    import struct
    import zlib

    # Parallelism fix (r15, guide §2.5/§8): the documents file is one
    # scan split at bench SFs, so the per-row Python codec work below —
    # synthesis here plus the decode in the consuming operator, the two
    # heaviest pure-Python paths in the bench — all ran in ONE task.
    # Hash-repartition the ID-SIZED projection (8 bytes/row — decide
    # with small rows, then generate the heavy payloads where they
    # land) across the session's shuffle partitions BEFORE the payload
    # synthesis. Explicit partition count so AQE cannot coalesce the
    # tiny-byte exchange back to one task; doc_id is unique, so the
    # hash spread is even and deterministic (no round-robin/rand keys).
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = spark.sparkContext.defaultParallelism
    d = d.repartition(n_part, "doc_id")

    def synth(batches):
        import pandas as pd

        def filter_line(ftype, line, prev, ch):
            out = bytearray()
            for j in range(len(line)):
                a = line[j - ch] if j >= ch else 0
                b = prev[j]
                c = prev[j - ch] if j >= ch else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                out.append((line[j] - pred) & 0xFF)
            return out

        def chunk(t, data):
            crc = zlib.crc32(t + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + t + data + struct.pack(">I", crc)

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 16 + did % 17
                h = 16 + (did * 3) % 13
                raw = bytearray()
                prev = bytearray(w)
                for y in range(h):
                    line = bytearray((x * 3 + y * 5 + did) % 256 for x in range(w))
                    ft = y % 5
                    raw.append(ft)
                    raw += filter_line(ft, line, prev, 1)
                    prev = line
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b"")
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": payloads,
                    "format": "png",
                    "kind": "image",
                }
            )

    return d.mapInPandas(
        synth, "media_id long, payload binary, format string, kind string"
    )


def mm_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail generation end-to-end with REAL pixel decoding: the
    pixel-valid PNG fixture runs through ``thumbnail_images`` (decode →
    nearest-neighbor shrink to 8px → re-encode). The oracle predicts the
    thumbnail dimensions AND the sum of every thumbnail pixel
    arithmetically — a wrong unfilter branch, resize index, or zlib
    framing hash-fails."""
    from gdutils_spark.operators.multimodal import thumbnail_images

    media = _synth_pixel_pngs(spark, sf_dir)
    return thumbnail_images(media, max_dim=THUMB_MAX_DIM).select(
        "media_id", "width", "height", "thumb_w", "thumb_h", "thumb_px_sum"
    )


def mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level feature extraction end-to-end: the pixel-valid PNG
    fixture is FULLY decoded and reduced to exact byte aggregates
    (sum/min/max, mean = one double division). The oracle computes the
    same aggregates from the pixel formula — any decode or unfilter
    defect across the five filter types hash-fails on px_sum, and the
    extremes pin the value range."""
    from gdutils_spark.operators.multimodal import image_pixel_stats

    return image_pixel_stats(_synth_pixel_pngs(spark, sf_dir))


_MM_PIXEL_STATS_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST(16 + doc_id % 17 AS INT) AS w,
         CAST(16 + (doc_id * 3) % 13 AS INT) AS h
  FROM documents
),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h, (x * 3 + y * 5 + doc_id) % 256 AS v FROM ys)
SELECT doc_id AS media_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(v) AS DOUBLE) / COUNT(*) AS px_mean,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM px GROUP BY 1, 2, 3
"""


_MM_THUMBNAILS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(16 + doc_id % 17 AS INT) AS w,
         CAST(16 + (doc_id * 3) % 13 AS INT) AS h
  FROM documents
),
t AS (
  -- same CASE as thumbnail_images: images already within max_dim pass
  -- through at full size (the fixture's dims are always larger, but the
  -- oracle must encode the operator's full contract, not the fixture's)
  SELECT doc_id, w, h,
         CASE WHEN GREATEST(w, h) <= {THUMB_MAX_DIM} THEN w
              ELSE CAST(GREATEST(1, w * {THUMB_MAX_DIM} // GREATEST(w, h)) AS INT)
         END AS tw,
         CASE WHEN GREATEST(w, h) <= {THUMB_MAX_DIM} THEN h
              ELSE CAST(GREATEST(1, h * {THUMB_MAX_DIM} // GREATEST(w, h)) AS INT)
         END AS th
  FROM d
),
xs AS (SELECT doc_id, w, h, tw, th, unnest(range(0, tw)) AS x FROM t),
ys AS (SELECT doc_id, w, h, tw, th, x, unnest(range(0, th)) AS y FROM xs)
SELECT doc_id AS media_id, w AS width, h AS height, tw AS thumb_w, th AS thumb_h,
       CAST(SUM(((x * w // tw) * 3 + (y * h // th) * 5 + doc_id) % 256) AS BIGINT)
         AS thumb_px_sum
FROM ys
GROUP BY 1, 2, 3, 4, 5
"""


AVI_STRIDE = 2
AVI_MAX_FRAMES = 3
AVI_CUT_MIN_DELTA = 32


def _synth_avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → valid AVI RIFF containers (hdrl: avih main header
    with doc_id-derived dims and frame period; movi: one ``00dc`` chunk
    per frame whose payload is a doc_id/frame-derived ASCII string, with
    a +64-byte "scene change" spike every third frame). Built on
    executors with the closure-shipped muxer — the video twin of
    :func:`_synth_pixel_pngs`. Every header field and frame byte is
    arithmetically predictable, so the oracles pin the parser's chunk
    offsets, endianness and word-alignment handling."""
    from gdutils_spark.operators.multimodal import _make_avi_builder

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    build = _make_avi_builder()  # nested fn → cloudpickle ships by value

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 4
                usec = (40000, 50000, 20000, 25000)[did % 4]
                frames = [
                    (
                        f"{did}:{i}:"
                        + "x" * (1 + (did + 3 * i) % 7)
                        + "X" * (64 if (did + i) % 3 == 0 else 0)
                    ).encode("ascii")
                    for i in range(n)
                ]
                payloads.append(
                    build(frames, 32 + did % 64, 24 + did % 48, usec)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": payloads,
                    "format": "avi",
                    "kind": "video",
                }
            )

    return d.mapInPandas(
        synth, "media_id long, payload binary, format string, kind string"
    )


def mm_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video metadata decode end-to-end with the REAL avih parse + movi
    frame count over the :func:`_synth_avi_media` fixture — the video
    member of the decode-features family (image/audio/video). The
    oracle predicts dims, fps (1e6/µs, exact doubles by fixture choice)
    and the TOTAL container byte size arithmetically, so a wrong header
    offset, a misread little-endian field, or a word-alignment slip in
    the muxer/parser pair hash-fails."""
    from gdutils_spark.operators.multimodal import decode_video_features

    return decode_video_features(_synth_avi_media(spark, sf_dir))


def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame SAMPLING through the real container path (VERDICT r9
    task 7): every ``AVI_STRIDE``-th movi frame chunk up to
    ``AVI_MAX_FRAMES``, extracted by the RIFF walk — no codec, which is
    genuine for MJPEG-style AVIs where each chunk is a standalone
    image. Emits the decoded frame text + byte length; the oracle
    rebuilds both from the fixture formula, so a wrong chunk offset,
    a stride/cap bug, or padding mishandling (odd-length frames ARE in
    the fixture) hash-fails."""
    from gdutils_spark.operators.multimodal import sample_frames

    fr = sample_frames(
        _synth_avi_media(spark, sf_dir),
        use_stub=False,
        stride=AVI_STRIDE,
        max_frames=AVI_MAX_FRAMES,
    )
    return fr.select(
        "media_id",
        "frame_idx",
        F.decode("frame_payload", "UTF-8").alias("frame_text"),
        F.length("frame_payload").alias("n_bytes"),
    )


def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection on frame-SIZE deltas: the container index
    walk (:func:`video_frame_index` — offsets/sizes only, no payload
    copy) feeds a Catalyst lag window; a cut is an adjacent-frame size
    jump ≥ ``AVI_CUT_MIN_DELTA`` (encoded frames change size sharply at
    scene boundaries — the classic cheap cut heuristic). Python touches
    only the container walk; the analytics stay JVM-side."""
    from pyspark.sql.window import Window

    from gdutils_spark.operators.multimodal import video_frame_index

    idx = video_frame_index(_synth_avi_media(spark, sf_dir))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    return (
        idx.withColumn("prev_bytes", F.lag("n_bytes").over(w))
        .where(
            F.col("prev_bytes").isNotNull()
            & (
                F.abs(F.col("n_bytes") - F.col("prev_bytes"))
                >= AVI_CUT_MIN_DELTA
            )
        )
        .select(
            "media_id",
            "frame_idx",
            "prev_bytes",
            F.col("n_bytes").alias("cur_bytes"),
        )
    )


# shared arithmetic reconstruction of the AVI fixture's frame texts
_AVI_FRAMES_CTE = """
WITH d AS (
  SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS n_frames FROM documents
),
f AS (
  SELECT doc_id, n_frames, CAST(unnest(range(0, n_frames)) AS INT) AS i
  FROM d
),
t AS (
  SELECT doc_id, n_frames, i,
         CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':'
           || repeat('x', CAST(1 + (doc_id + 3 * i) % 7 AS INT))
           || repeat('X', CASE WHEN (doc_id + i) % 3 = 0 THEN 64 ELSE 0 END)
           AS txt
  FROM f
)
"""

_MM_VIDEO_FEATURES_SQL = f"""
{_AVI_FRAMES_CTE},
sz AS (
  SELECT doc_id, n_frames,
         SUM(8 + length(txt) + length(txt) % 2) AS movi_payload
  FROM t GROUP BY 1, 2
)
SELECT doc_id AS media_id,
       'avi' AS format,
       'avi' AS detected,
       CAST(32 + doc_id % 64 AS INT) AS width,
       CAST(24 + doc_id % 48 AS INT) AS height,
       CAST(CASE doc_id % 4 WHEN 0 THEN 25 WHEN 1 THEN 20
                            WHEN 2 THEN 50 ELSE 40 END AS DOUBLE) AS fps,
       n_frames,
       CAST(224 + movi_payload AS BIGINT) AS n_bytes
FROM sz
"""

_MM_VIDEO_FRAMES_SQL = f"""
{_AVI_FRAMES_CTE}
SELECT doc_id AS media_id, i AS frame_idx, txt AS frame_text,
       CAST(length(txt) AS INT) AS n_bytes
FROM t WHERE i % {AVI_STRIDE} = 0
"""

_MM_VIDEO_SCENE_CUTS_SQL = f"""
{_AVI_FRAMES_CTE},
lagd AS (
  SELECT doc_id, i, CAST(length(txt) AS INT) AS nb,
         LAG(CAST(length(txt) AS INT))
           OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM t
)
SELECT doc_id AS media_id, i AS frame_idx, prev AS prev_bytes,
       nb AS cur_bytes
FROM lagd WHERE prev IS NOT NULL AND abs(nb - prev) >= {AVI_CUT_MIN_DELTA}
"""


def _wav_media(d: DataFrame) -> DataFrame:
    """Documents → syntactically valid PCM WAV containers (RIFF/WAVE +
    fmt chunk with doc_id-derived sample rate and channel count, the
    UTF-8 text bytes as the data chunk), built JVM-side — little-endian
    fields via per-byte hex reversal. Shared fixture for the audio
    header-decode and PCM sample-decode queries."""

    def le(c: F.Column, width: int) -> F.Column:
        """Integer column → little-endian bytes of the given width."""
        h = F.lpad(F.hex(c), width * 2, "0")
        chunks = [F.substring(h, 2 * i + 1, 2) for i in range(width)]
        return F.unhex(F.concat(*reversed(chunks)))

    rate = (F.lit(8000) + (F.col("doc_id") % 8) * 1000).cast("long")
    channels = (F.lit(1) + F.col("doc_id") % 2).cast("long")
    byte_rate = (rate * channels * 2).cast("long")
    data_size = F.octet_length(F.encode("text", "utf-8")).cast("long")
    payload = F.concat(
        F.lit(b"RIFF"),
        le(data_size + 36, 4),
        F.lit(b"WAVE"),
        F.lit(b"fmt "),
        le(F.lit(16), 4),
        le(F.lit(1), 2),                   # PCM
        le(channels, 2),
        le(rate, 4),
        le(byte_rate, 4),
        le(channels * 2, 2),               # block align
        le(F.lit(16), 2),                  # bits per sample
        F.lit(b"data"),
        le(data_size, 4),
        F.encode("text", "utf-8"),
    )
    # null-strict fixture (see _png_media)
    d = d.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    return d.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("wav").alias("format"),
        F.lit("audio").alias("kind"),
    )


def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio header decode end-to-end with the REAL RIFF chunk walk over
    the :func:`_wav_media` fixture. The oracle predicts
    rate/channels/duration arithmetically, so a wrong chunk offset or
    endianness hash-fails."""
    from gdutils_spark.operators.multimodal import decode_audio_features

    return decode_audio_features(
        _wav_media(load_table(spark, sf_dir, "documents"))
    )


def mm_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-level audio decode: int16 PCM amplitude statistics over
    the WAV fixture. The data chunk is the document's text restricted to
    printable ASCII (sanitized identically on both sides, so the oracle
    holds even if the fixture corpus ever gains multi-byte characters —
    char count == byte count and ``ord`` == byte only under ASCII), so
    every decoded sample is predictable arithmetically — sample i =
    byte(2i) + 256·byte(2i+1), always non-negative because ASCII high
    bytes stay < 0x80 — and the oracle rebuilds count/sum/sum-of-squares
    /peak per document from character codes. A wrong data-chunk offset,
    endianness, or signedness in the decoder hash-fails; mean and RMS
    are one IEEE division (+ correctly-rounded sqrt) over exact
    integers."""
    from gdutils_spark.operators.multimodal import audio_pcm_stats

    d = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", r"[^\x20-\x7E]", "")
    )
    return audio_pcm_stats(_wav_media(d))


_MM_PCM_SQL = r"""
WITH s AS (
  SELECT doc_id AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS text,
         CAST(length(regexp_replace(text, '[^\x20-\x7E]', '', 'g')) // 2 AS BIGINT) AS n
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
ex AS (SELECT media_id, text, unnest(range(n)) AS i FROM s),
samp AS (
  SELECT media_id,
         ord(substring(text, CAST(2*i+1 AS INT), 1))
         + 256 * ord(substring(text, CAST(2*i+2 AS INT), 1)) AS v
  FROM ex
),
agg AS (
  SELECT media_id,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(v) AS BIGINT) AS sum_amp,
         CAST(SUM(v*v) AS BIGINT) AS sumsq_amp,
         CAST(MAX(v) AS INT) AS peak
  FROM samp GROUP BY media_id
)
SELECT s.media_id,
       COALESCE(n_samples, 0) AS n_samples,
       COALESCE(sum_amp, 0) AS sum_amp,
       COALESCE(sumsq_amp, 0) AS sumsq_amp,
       peak,
       CASE WHEN n_samples > 0 THEN CAST(sum_amp AS DOUBLE) / n_samples END AS mean_amp,
       CASE WHEN n_samples > 0 THEN sqrt(CAST(sumsq_amp AS DOUBLE) / n_samples) END AS rms
FROM s LEFT JOIN agg USING (media_id)
"""


_MM_AUDIO_SQL = """
SELECT doc_id AS media_id,
       'wav' AS format,
       'wav' AS detected,
       CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST(octet_length(encode(text)) AS DOUBLE)
         / ((8000 + (doc_id % 8) * 1000) * (1 + doc_id % 2) * 2) AS duration_s,
       CAST(octet_length(encode(text)) + 44 AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
"""


def geo_user_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 GeoJSON FeatureCollection assembly, hash-verified byte-for-byte:
    the oracle rebuilds the full document with string aggregation — the
    quantized doubles format identically in both engines (shortest
    uniquely-identifying decimal, standard notation in the coordinate
    range), which ``rt_kml_coords`` already established for this
    quantizer's outputs. Coordinates are derived deterministically from
    event values since the synthetic events table carries no
    geography."""
    from gdutils_spark.sinks.geojson import track_geojson

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    fixes = e.select(
        "user_id",
        F.col("ts"),
        ((F.col("value") % 180) - 90).alias("latitude"),
        ((F.col("event_id") % 360) - 180).cast("double").alias("longitude"),
    )
    return track_geojson(fixes, "user_id", time_col="ts").orderBy("entity")


def _geo_tracks_sql() -> str:
    """Full GeoJSON document reassembly in SQL: same quantization
    (decimal-exact HALF_DOWN), same time-order (t, lon, lat), same
    compact Jackson-style number/array rendering the Spark sink's
    ``to_json`` emits."""
    from gdutils_spark.queries_rt import _half_down_sql

    lat = _half_down_sql("(value % 180.0) - 90.0")
    lon = _half_down_sql("CAST((event_id % 360) - 180 AS DOUBLE)")
    pt = (
        "'{\"type\": \"Feature\", \"geometry\": {\"type\": \"Point\", "
        "\"coordinates\": [' || CAST(lon AS VARCHAR) || ',' || CAST(lat AS VARCHAR) "
        "|| ']}, \"properties\": {\"ts\": \"' "
        "|| strftime(t, '%Y-%m-%dT%H:%M:%SZ') || '\"}}'"
    )
    return f"""
WITH f AS (
  SELECT user_id AS entity, ts AS t, {lat} AS lat, {lon} AS lon
  FROM events WHERE user_id < 20
),
agg AS (
  SELECT entity,
         string_agg('[' || CAST(lon AS VARCHAR) || ',' || CAST(lat AS VARCHAR) || ']',
                    ',' ORDER BY t, lon, lat) AS line,
         string_agg({pt}, ', ' ORDER BY t, lon, lat) AS points,
         CAST(MIN(lon) AS VARCHAR) AS lon_min,
         CAST(MIN(lat) AS VARCHAR) AS lat_min,
         CAST(MAX(lon) AS VARCHAR) AS lon_max,
         CAST(MAX(lat) AS VARCHAR) AS lat_max
  FROM f GROUP BY entity
)
SELECT entity AS user_id,
       '{{"type": "FeatureCollection", "bbox": ['
       || lon_min || ',' || lat_min || ',' || lon_max || ',' || lat_max
       || '], "features": [{{"type": "Feature", "geometry": {{"type": "LineString", "coordinates": ['
       || line || ']}}, "properties": {{}}}}, ' || points || ']}}' AS geojson
FROM agg
"""


TOP_TOKENS_K = 10


def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tokens per language by corpus frequency — the vocabulary
    report a tokenizer-training pipeline runs first. Two-level plan:
    explode → (lang, token) hash agg (map-side combine carries one row
    per distinct token per task), then a per-lang window rank over the
    tiny distinct-token table. Ties broken lexicographically so top-k is
    deterministic."""
    from pyspark.sql.window import Window

    from gdutils_spark.operators.dedup import normalize_text

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TOKENS_K)
        .select("lang", "token", "n", "rank")
    )


_TOP_TOKENS_SQL = f"""
WITH toks AS (
  SELECT lang, UNNEST(regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' ')), ' ')) AS token
  FROM documents
),
counts AS (
  SELECT lang, token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY lang, token
)
SELECT lang, token, n, rank FROM (
  SELECT lang, token, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INT) AS rank
  FROM counts
)
WHERE rank <= {TOP_TOKENS_K}
"""


def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.repetition_signals(load_table(spark, sf_dir, "documents"))


_REPETITION_SQL = f"""
WITH base AS (SELECT doc_id, regexp_split_to_array({_NORM}, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, len(w) AS n_tokens,
    CASE WHEN len(w) >= 2
         THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
         ELSE CAST([] AS VARCHAR[]) END AS g2,
    CASE WHEN len(w) >= 5
         THEN list_transform(generate_series(1, len(w)-4),
                             i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))
         ELSE CAST([] AS VARCHAR[]) END AS g5
  FROM base
),
c AS (
  SELECT doc_id, gram, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, MAX(n) AS top_bigram_n, CAST(SUM(n) AS BIGINT) AS n_bigrams
  FROM c GROUP BY 1
)
SELECT g.doc_id,
       CAST(g.n_tokens AS INT) AS n_tokens,
       agg.top_bigram_n AS top_bigram_n,
       COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       CAST(agg.top_bigram_n AS DOUBLE) / agg.n_bigrams AS top_bigram_frac,
       CASE WHEN len(g5) = 0 THEN NULL
            ELSE CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5)
       END AS dup_ngram_frac
FROM g LEFT JOIN agg ON g.doc_id = agg.doc_id
"""


SOURCE_STATS_MIN_QUALITY = 0.25


def doc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.source_quality_stats(
        load_table(spark, sf_dir, "documents"), min_quality=SOURCE_STATS_MIN_QUALITY
    )


_SOURCE_STATS_SQL = f"""
WITH t AS (
  SELECT source, lang, length(text) AS n_chars,
         md5({_NORM}) AS fp,
         regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks,
         text
  FROM documents
),
q AS (
  SELECT source, lang, n_chars, fp,
    0.5 * (CAST(len(list_filter(toks, x -> list_contains([{{stops}}], x))) AS DOUBLE) / len(toks))
    + 0.5 * (CASE WHEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
    - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS quality
  FROM t
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars,
       1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_rate,
       COUNT(CASE WHEN quality < {SOURCE_STATS_MIN_QUALITY} THEN 1 END) AS n_low_quality
FROM q GROUP BY 1, 2
""".replace(
    "{stops}", ", ".join(f"'{w}'" for w in tx.STOPWORDS)
)


N_SHARDS = 16


def doc_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.shard_stats(
        load_table(spark, sf_dir, "documents"),
        size_col="n_chars",
        n_shards=N_SHARDS,
    )


_SHARD_STATS_SQL = f"""
SELECT CAST({_h64("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS INT) AS shard,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM documents GROUP BY 1
"""


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        n_centroids=IVF_CENTROIDS,
        threshold=NEAR_DUP_T,
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
scored AS (
  SELECT e.vec_id, e.v, cent.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cid
         ) AS rn
  FROM e, cent
),
a AS (SELECT vec_id, v, cid FROM scored WHERE rn = 1),
dup AS (
  SELECT DISTINCT y.vec_id
  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE NOT isnan(list_cosine_similarity(x.v, y.v))
    AND list_cosine_similarity(x.v, y.v) >= {NEAR_DUP_T}
)
SELECT a.vec_id, a.cid AS centroid, (dup.vec_id IS NULL) AS is_kept
FROM a LEFT JOIN dup ON a.vec_id = dup.vec_id
"""


def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.cross_group_shingle_overlap(
        load_table(spark, sf_dir, "documents"), k=NGRAM_K
    )


_SOURCE_OVERLAP_SQL = f"""
WITH {_SHINGLES_CTE},
inv AS (
  SELECT DISTINCT d.source AS grp, sh.shingle
  FROM sh JOIN documents d ON sh.doc = d.doc_id
),
totals AS (SELECT grp, COUNT(*) AS n FROM inv GROUP BY 1),
shared AS (
  SELECT a.grp AS g1, b.grp AS g2, COUNT(*) AS shared_shingles
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT g1, g2, shared_shingles, t1.n AS n1, t2.n AS n2,
       CAST(shared_shingles AS DOUBLE) / CAST(LEAST(t1.n, t2.n) AS DOUBLE)
         AS overlap_frac
FROM shared
JOIN totals t1 ON g1 = t1.grp
JOIN totals t2 ON g2 = t2.grp
"""


def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivorship: near-dup clusters keep their
    highest-quality member rather than the lowest id."""
    docs = load_table(spark, sf_dir, "documents")
    stats = tx.text_stats(docs).select("doc_id", "quality_score")
    pairs = dd.minhash_lsh_pairs(
        docs, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T
    )
    return dd.keep_best_representative(stats, pairs, "quality_score")


def _dedup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
stats AS ({_TEXT_STATS_SQL}),
q AS (SELECT doc_id AS doc, quality_score FROM stats),
members AS (
  SELECT q.doc, cc.component, q.quality_score
  FROM q JOIN cc ON q.doc = cc.node
),
winners AS (
  SELECT component, doc AS keep_doc FROM (
    SELECT component, doc,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY quality_score DESC, doc) AS rn
    FROM members
  ) WHERE rn = 1
)
SELECT q.doc, COALESCE(cc.component, q.doc) AS component, q.quality_score,
       COALESCE(q.doc = w.keep_doc, TRUE) AS is_kept
FROM q
LEFT JOIN cc ON q.doc = cc.node
LEFT JOIN winners w ON cc.component = w.component
"""


TEMP_MIX_BUDGET = 0.5


def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature (α=0.5) language-balancing rates over
    per-language char mass — shares, rates and expected weights all
    hash-verified (sqrt is IEEE-exact; the share denominator folds in
    pinned ascending-stratum order)."""
    from gdutils_spark.operators.sampling import temperature_mix_rates

    return temperature_mix_rates(
        load_table(spark, sf_dir, "documents"),
        strata_col="lang",
        weight_col="n_chars",
        alpha=0.5,
        budget_frac=TEMP_MIX_BUDGET,
    )


_TEMP_MIX_SQL = f"""
WITH per AS (
  SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_weight
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(total_weight) AS BIGINT) AS corpus,
         list_sum(list(sqrt(CAST(total_weight AS DOUBLE)) ORDER BY stratum)) AS S
  FROM per
)
SELECT stratum, n_docs, total_weight,
       CASE WHEN S > 0 THEN sqrt(CAST(total_weight AS DOUBLE)) / S END
         AS temp_share,
       CASE WHEN total_weight > 0 AND S > 0 THEN
         LEAST(CAST(1 AS DOUBLE),
               sqrt(CAST(total_weight AS DOUBLE)) / S
                 * (CAST(corpus AS DOUBLE) * CAST({TEMP_MIX_BUDGET!r} AS DOUBLE))
                 / CAST(total_weight AS DOUBLE)) END AS rate,
       CASE WHEN total_weight > 0 AND S > 0 THEN
         LEAST(CAST(1 AS DOUBLE),
               sqrt(CAST(total_weight AS DOUBLE)) / S
                 * (CAST(corpus AS DOUBLE) * CAST({TEMP_MIX_BUDGET!r} AS DOUBLE))
                 / CAST(total_weight AS DOUBLE))
           * CAST(total_weight AS DOUBLE) END AS expected_weight
FROM per, tot
"""
# CASE guards: zero/NULL-weight stratum -> NULL share/rate on both
# engines (operator twin: temperature_mix_rates' when() guards)


SPLIT_HOLDOUT_FRAC = 0.1


def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/holdout split: near-dup cluster members share
    a split, so holdout docs never have a training-set near-copy. Every
    per-document assignment is hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T
    )
    return dd.leakage_safe_split(docs, pairs, holdout_frac=SPLIT_HOLDOUT_FRAC)


def _leakage_split_sql() -> str:
    thresh = int(SPLIT_HOLDOUT_FRAC * 1_000_000)
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
lab AS (
  SELECT d.doc_id AS doc, COALESCE(cc.component, d.doc_id) AS split_key
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
)
SELECT doc, split_key,
       CASE WHEN {_h64("'split' || CAST(split_key AS VARCHAR)")} % 1000000 < {thresh}
            THEN 'holdout' ELSE 'train' END AS split
FROM lab
"""


MIX_BUDGET_FRAC = 0.5


def _mix_target_weight():
    # even-numbered sources get double target weight — a stand-in for a
    # curated per-domain priority table (which would broadcast the same
    # way at scale). try_cast: a source name without a numeric suffix
    # must get the default weight, not crash the whole mix job under
    # ANSI (r13 null-fixture hunt: source 'webz' raised
    # CAST_INVALID_INPUT mid-aggregate)
    return F.when(
        F.substring(F.col("source"), 4, 10).try_cast("int") % 2 == 0, F.lit(2)
    ).otherwise(F.lit(1))


_MIX_TW_SQL = (
    "CASE WHEN TRY_CAST(substring(source, 4) AS INT) % 2 = 0 THEN 2 ELSE 1 END"
)

_MIX_PER_SQL = f"""
per AS (
  SELECT source AS stratum, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_weight,
         MAX({_MIX_TW_SQL}) AS _tw
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(total_weight) AS BIGINT) AS _corpus,
         CAST(SUM(CASE WHEN total_weight IS NULL THEN 0 ELSE _tw END)
              AS BIGINT) AS _w
  FROM per
)
"""
# the _w CASE mirrors domain_mix_rates' fold exactly: a stratum whose
# total weight is NULL contributes NOTHING to the target-share
# denominator (its own rate is NULL, so its budget slice is
# unspendable) — bare SUM(_tw) would count it (r13 null-fixture hunt)

_MIX_RATE_SQL = (
    # CASE: zero/NULL-weight stratum has an UNDEFINED (NULL) rate on
    # both engines (the operator's when() guard) — bare division would
    # give inf/nan in DuckDB and DIVIDE_BY_ZERO in ANSI Spark
    "(CASE WHEN total_weight > 0 THEN "
    "LEAST(1.0, CAST(_tw AS DOUBLE) / CAST(_w AS DOUBLE)"
    f" * (CAST(_corpus AS DOUBLE) * {MIX_BUDGET_FRAC})"
    " / CAST(total_weight AS DOUBLE)) END)"
)


def doc_domain_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.domain_mix_rates(
        load_table(spark, sf_dir, "documents"),
        strata_col="source",
        weight_col="n_chars",
        target_weight=_mix_target_weight(),
        budget_frac=MIX_BUDGET_FRAC,
    )


_MIX_PLAN_SQL = f"""
WITH {_MIX_PER_SQL}
SELECT stratum, n_docs, total_weight,
       CAST(_tw AS DOUBLE) / CAST(_w AS DOUBLE) AS target_share,
       {_MIX_RATE_SQL} AS rate,
       {_MIX_RATE_SQL} * CAST(total_weight AS DOUBLE) AS expected_weight
FROM per, tot
"""


def doc_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = sp.domain_mix_rates(
        docs,
        strata_col="source",
        weight_col="n_chars",
        target_weight=_mix_target_weight(),
        budget_frac=MIX_BUDGET_FRAC,
    )
    return sp.domain_mix_sample(docs, "source", "doc_id", rates).select(
        "doc_id", "lang", "source"
    )


_MIX_SAMPLE_SQL = f"""
WITH {_MIX_PER_SQL},
rates AS (
  SELECT stratum,
         CAST(floor({_MIX_RATE_SQL} * 10000.0 + 0.5) AS BIGINT) AS thr
  FROM per, tot
)
SELECT doc_id, lang, source
FROM documents JOIN rates ON source = stratum
WHERE ({_h64("CAST(doc_id AS VARCHAR)")} % 10000) < thr
"""


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup: the 10% of documents with ``doc_id % 10 = 0``
    play the new batch; matches are sought only AGAINST the other 90%
    (the staged corpus), never corpus-vs-corpus."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return dd.minhash_lsh_pairs_between(
        new, corpus, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS,
        threshold=JACCARD_T,
    )


def _incremental_dedup_sql() -> str:
    # signatures depend only on a document's own shingles, so computing
    # them over the full table and splitting afterwards is identical to
    # the Spark side's per-subset computation
    pa, pb = dd._perm_constants(NUM_PERMS)
    rows = NUM_PERMS // BANDS
    base_h = f"({_h64('shingle')} % {dd.MINHASH_PRIME})"
    sig_aggs = ", ".join(
        f"MIN(({base_h} * {pa[p]} + {pb[p]}) % {dd.MINHASH_PRIME}) AS sig{p:02d}"
        for p in range(NUM_PERMS)
    )
    band_rows = []
    for b in range(BANDS):
        cols = ", ".join(f"sig{p:02d}" for p in range(b * rows, (b + 1) * rows))
        band_rows.append(
            f"SELECT doc, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc, {sig_aggs} FROM sh GROUP BY doc),
banded AS ({banded}),
cands AS (
  SELECT DISTINCT b.doc AS new_id, a.doc AS corpus_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc % 10 <> 0 AND b.doc % 10 = 0
),
common AS (
  SELECT c.new_id, c.corpus_id, COUNT(*) AS common
  FROM cands c
  JOIN sh s1 ON s1.doc = c.corpus_id
  JOIN sh s2 ON s2.doc = c.new_id AND s2.shingle = s1.shingle
  GROUP BY 1, 2
)
SELECT common.new_id, common.corpus_id,
       CAST(common AS DOUBLE) / (sn.n + sc.n - common) AS jaccard
FROM common
JOIN sizes sn ON common.new_id = sn.doc
JOIN sizes sc ON common.corpus_id = sc.doc
WHERE CAST(common AS DOUBLE) / (sn.n + sc.n - common) >= {JACCARD_T}
"""


BM25_TERMS = ("join", "vector", "stream")
BM25_TOP_K = 100


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bm25_rank(
        load_table(spark, sf_dir, "documents"),
        terms=BM25_TERMS,
        top_k=BM25_TOP_K,
    )


def _bm25_sql() -> str:
    toks = "regexp_split_to_array(lower(trim(text, ' ')), '\\s+')"
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    norm = (
        "1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
        " / (CAST(_tdl AS DOUBLE) / CAST(_n AS DOUBLE))))"
    )
    score_terms = [
        f"(CAST(_n - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5)"
        f" * (CAST(tf{i} AS DOUBLE) * 2.2) / (CAST(tf{i} AS DOUBLE) + {norm})"
        for i in range(len(BM25_TERMS))
    ]
    matched = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH p AS (
  SELECT doc_id, len(toks) AS dl, {tf_cols}
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
),
s AS (
  SELECT COUNT(*) AS _n, CAST(SUM(dl) AS BIGINT) AS _tdl, {df_cols} FROM p
)
SELECT doc_id, score, n_matched FROM (
  SELECT doc_id, {" + ".join(score_terms)} AS score,
         CAST({matched} AS INT) AS n_matched
  FROM p, s
) WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


RRF_K = 60
HYBRID_QUERY_VEC = 0
HYBRID_TOP_K = 20


def doc_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking fused with a brute-force
    vector ranking by reciprocal-rank fusion (RRF, SIGIR'09) — the
    standard two-tower serving shape (keyword recall + semantic recall,
    no score calibration). documents and embeddings share the id domain
    in the driver corpus, so doc_id == vec_id."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    bm = tx.bm25_rank(docs, terms=BM25_TERMS, top_k=BM25_TOP_K)
    text_rank = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    vec = sim.knn_bruteforce(
        embs, embs.where(F.col("vec_id") == HYBRID_QUERY_VEC), k=BM25_TOP_K
    )
    vec_rank = vec.select(
        F.col("neighbor_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("neighbor_id")))
        .alias("rank"),
    )
    return tx.rrf_fuse(text_rank, vec_rank, k=RRF_K, top_k=HYBRID_TOP_K)


def _hybrid_sql() -> str:
    return f"""
WITH bm AS ({_bm25_sql()}),
tr AS (SELECT doc_id,
              CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_a
       FROM bm),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND vec_id = {HYBRID_QUERY_VEC}),
vs AS (SELECT vec_id AS doc_id,
              list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) AS vscore
       FROM embeddings, q WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND vec_id <> {HYBRID_QUERY_VEC}),
vr AS (SELECT doc_id,
              CAST(ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS INT) AS rank_b
       FROM vs ORDER BY vscore DESC, doc_id LIMIT {BM25_TOP_K})
SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, rank_a, rank_b,
       COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + rank_a AS DOUBLE), 0.0)
       + COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + rank_b AS DOUBLE), 0.0)
         AS rrf_score
FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
ORDER BY rrf_score DESC, COALESCE(tr.doc_id, vr.doc_id)
LIMIT {HYBRID_TOP_K}
"""


# ---------------------------------------------------------------------------
# Evaluation / profiling reports
# ---------------------------------------------------------------------------


def emb_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the sign-LSH bucketed index
    against the exact brute-force ground truth, per query. The number
    every ANN deployment tunes its planes/bands/probes against."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    approx = sim.knn_lsh(vectors, queries, k=KNN_K, planes=LSH_PLANES, dims=EMB_DIMS)
    exact = sim.knn_bruteforce(vectors, queries, k=KNN_K)
    return sim.knn_recall(approx, exact, k=KNN_K)


def _knn_recall_sql() -> str:
    return f"""
WITH exact AS ({_KNN_SQL}),
approx AS ({_knn_lsh_sql()}),
hits AS (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.query_id,
       COALESCE(n_hits, 0) AS n_hits,
       CAST(COALESCE(n_hits, 0) AS DOUBLE) / {KNN_K} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits USING (query_id)
"""


def doc_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline tuning report: recall/precision of the banded
    MinHash-LSH pair detector against the exact n-gram-Jaccard ground
    truth at the same (k, threshold) — the number perms/bands are tuned
    against, now driver-verified like the ANN recall closure."""
    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.4): both detectors shingle the SAME corpus at the
    # same k — pin the explode once and share it across the LSH and
    # exact-Jaccard pipelines (identical rows; one window sort +
    # distinct instead of two).
    sh = dd._shingle_table(docs, "text", "doc_id", NGRAM_K).localCheckpoint(
        eager=False
    )
    approx = dd.minhash_lsh_pairs(
        docs,
        num_perms=NUM_PERMS,
        k=NGRAM_K,
        bands=BANDS,
        threshold=JACCARD_T,
        _shingles=sh,
    )
    exact = dd.ngram_jaccard_pairs(docs, k=NGRAM_K, threshold=JACCARD_T, _shingles=sh)
    return dd.pair_recall(approx, exact)


def _dedup_recall_sql() -> str:
    return f"""
WITH exact_p AS ({_NGRAM_PAIRS_SQL}),
approx_p AS ({_minhash_lsh_sql()}),
e AS (SELECT DISTINCT d1, d2 FROM exact_p),
a AS (SELECT DISTINCT d1, d2 FROM approx_p),
h AS (SELECT COUNT(*) AS n FROM a JOIN e USING (d1, d2)),
ne AS (SELECT COUNT(*) AS n FROM e),
na AS (SELECT COUNT(*) AS n FROM a)
SELECT CAST(ne.n AS BIGINT) AS n_exact,
       CAST(na.n AS BIGINT) AS n_approx,
       CAST(h.n AS BIGINT) AS n_hits,
       CASE WHEN ne.n > 0 THEN CAST(h.n AS DOUBLE) / ne.n END AS recall,
       CASE WHEN na.n > 0 THEN CAST(h.n AS DOUBLE) / na.n END AS precision
FROM ne, na, h
"""


def doc_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup reporting: the duplicate-cluster size distribution (how many
    clusters of each size, and how many documents they hold) over the
    MinHash-LSH connected components."""
    pairs = dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perms=NUM_PERMS,
        k=NGRAM_K,
        bands=BANDS,
        threshold=JACCARD_T,
    )
    cc = dd.connected_components(pairs, src="d1", dst="d2")
    return dd.cluster_size_stats(cc)


def _dup_cluster_stats_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM cc GROUP BY component)
SELECT cluster_size, COUNT(*) AS n_clusters, cluster_size * COUNT(*) AS n_docs
FROM sizes GROUP BY cluster_size
"""


LEN_BUCKET = 100


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram (100-char buckets) with each
    bucket's share of its source — the profiling report behind
    truncation/packing decisions."""
    return tx.length_histogram(
        load_table(spark, sf_dir, "documents"), bucket_width=LEN_BUCKET
    )


_LEN_HIST_SQL = f"""
WITH counts AS (
  SELECT source,
         CAST(FLOOR(n_chars / {LEN_BUCKET}.0) AS BIGINT) AS bucket,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
)
SELECT source, bucket, bucket * {LEN_BUCKET} AS bucket_lo, n_docs,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source) AS share
FROM counts
"""


def doc_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary profile (doc/token/type/hapax counts,
    type-token ratio) — the corpus health report run before tokenizer
    training."""
    return tx.vocab_stats(load_table(spark, sf_dir, "documents"))


_VOCAB_STATS_SQL = f"""
WITH toks AS (
  SELECT lang, unnest({_TOKS}) AS token FROM documents
), freq AS (
  SELECT lang, token, COUNT(*) AS freq FROM toks GROUP BY lang, token
), vocab AS (
  SELECT lang,
         COUNT(*) AS distinct_tokens,
         CAST(SUM(freq) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens
  FROM freq GROUP BY lang
), docs AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
SELECT d.lang, d.n_docs,
       COALESCE(total_tokens, 0) AS total_tokens,
       COALESCE(distinct_tokens, 0) AS distinct_tokens,
       COALESCE(hapax_tokens, 0) AS hapax_tokens,
       CASE WHEN COALESCE(total_tokens, 0) > 0
            THEN CAST(distinct_tokens AS DOUBLE) / total_tokens END AS type_token_ratio
FROM docs d LEFT JOIN vocab USING (lang)
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream — cohort = ISO week
    of first activity, retention = distinct actives per week offset."""
    from gdutils_spark.operators import behavior as bh

    return bh.cohort_retention(load_table(spark, sf_dir, "events"))


_COHORT_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), pu AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
), counts AS (
  SELECT cohort_week,
         CAST((week - cohort_week) / 7 AS INT) AS week_offset,
         COUNT(*) AS n_users
  FROM uw JOIN pu USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_users,
       CAST(n_users AS DOUBLE)
         / MAX(CASE WHEN week_offset = 0 THEN n_users END)
             OVER (PARTITION BY cohort_week) AS retention_rate
FROM counts
"""


def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered view→click→purchase funnel (first-touch): one
    Catalyst fold over each user's time-ordered step events."""
    from gdutils_spark.operators import behavior as bh

    return bh.funnel(load_table(spark, sf_dir, "events"), steps=FUNNEL_STEPS)


def _funnel_sql() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""
WITH t0 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = '{s0}' GROUP BY user_id
), t1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t0 USING (user_id)
  WHERE e.event_type = '{s1}' AND e.ts > t0.t GROUP BY e.user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = '{s2}' AND e.ts > t1.t GROUP BY e.user_id
)
SELECT 0 AS step_index, '{s0}' AS step, (SELECT COUNT(*) FROM t0) AS n_users
UNION ALL
SELECT 1, '{s1}', (SELECT COUNT(*) FROM t1)
UNION ALL
SELECT 2, '{s2}', (SELECT COUNT(*) FROM t2)
"""


def user_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded view→click→purchase funnel: each step must convert
    within 24h of the previous step's conversion (the standard
    product-analytics form). Same single-fold plan as ``user_funnel`` —
    the window bound is one extra comparison inside the fold."""
    from datetime import timedelta

    from gdutils_spark.operators import behavior as bh

    return bh.funnel(
        load_table(spark, sf_dir, "events"),
        steps=FUNNEL_STEPS,
        within=timedelta(days=1),
    )


def _funnel_windowed_sql() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""
WITH t0 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = '{s0}' GROUP BY user_id
), t1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t0 USING (user_id)
  WHERE e.event_type = '{s1}' AND e.ts > t0.t
    AND e.ts <= t0.t + INTERVAL 1 DAY
  GROUP BY e.user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = '{s2}' AND e.ts > t1.t
    AND e.ts <= t1.t + INTERVAL 1 DAY
  GROUP BY e.user_id
)
SELECT 0 AS step_index, '{s0}' AS step, (SELECT COUNT(*) FROM t0) AS n_users
UNION ALL
SELECT 1, '{s1}', (SELECT COUNT(*) FROM t1)
UNION ALL
SELECT 2, '{s2}', (SELECT COUNT(*) FROM t2)
"""


# ---------------------------------------------------------------------------
# Registry
HLL_P = 8


def doc_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token HLL report: deterministic md5-hashed
    registers, ascending-bucket power-of-two fold, one inlined bias
    literal — the estimate, its components, AND the exact count (to
    grade the estimator) all hash-verified cross-engine."""
    from gdutils_spark.operators.sketches import hll_report

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(dd.normalize_text(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    return hll_report(toks, "token", "source", p=HLL_P).withColumnRenamed(
        "grp", "source"
    )


def _hll_tokens_sql() -> str:
    from gdutils_spark.operators.sketches import _alpha_m2

    m = 1 << HLL_P
    width = 60 - HLL_P
    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
),
h AS (
  SELECT source, token, {_h64("token")} AS hv FROM toks WHERE token <> ''
),
b AS (SELECT source, token, hv % {m} AS bucket, hv >> {HLL_P} AS w FROM h),
r AS (
  SELECT source, bucket,
         CASE WHEN w = 0 THEN {width + 1}
              ELSE {width + 1} - length(bin(w)) END AS rho
  FROM b
),
reg AS (SELECT source, bucket, MAX(rho) AS reg FROM r GROUP BY source, bucket),
fold AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
         list_sum(list(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << reg)
                       ORDER BY bucket)) AS sum_present
  FROM reg GROUP BY source
),
ex AS (
  SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact
  FROM h GROUP BY source
),
est AS (
  SELECT source, n_exact, n_buckets_hit,
         sum_present + CAST({m} - n_buckets_hit AS DOUBLE) AS sum_inv
  FROM ex JOIN fold USING (source)
)
SELECT source, n_exact, n_buckets_hit, sum_inv,
       CAST('{_alpha_m2(HLL_P)!r}' AS DOUBLE) / sum_inv AS hll_estimate,
       (CAST('{_alpha_m2(HLL_P)!r}' AS DOUBLE) / sum_inv - CAST(n_exact AS DOUBLE))
         / CAST(n_exact AS DOUBLE) AS rel_error
FROM est
"""


SEG_WIDTH = 8
SEG_MIN_DOCS = 3


SUBSTR_K = 8


def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2021 ExactSubstr, shingle
    formulation): every repeated span of ≥ 8 tokens loses all but its
    first occurrence in global (doc, pos) order — the third dedup tier
    between document-level MinHash and segment-level boilerplate. The
    cleaned text itself is hash-verified, so shingling, the canonical-
    site rule, span coverage, and ordered reassembly must all agree
    with the oracle replay."""
    d = load_table(spark, sf_dir, "documents")
    return tx.remove_repeated_substrings(d, k=SUBSTR_K)


_SUBSTRING_DEDUP_SQL = f"""
WITH w AS (SELECT doc_id AS doc, {_TOKS} AS ws FROM documents),
sites AS (
  SELECT doc, CAST(i - 1 AS INT) AS pos,
         {_h64(f"array_to_string(ws[i : i + {SUBSTR_K} - 1], ' ')")} AS h
  FROM (SELECT doc, ws, unnest(generate_series(1, len(ws) - {SUBSTR_K} + 1)) AS i
        FROM w WHERE len(ws) >= {SUBSTR_K}) s
),
rem AS (
  SELECT doc, pos FROM (
    SELECT doc, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc, pos) AS rn
    FROM sites) r
  WHERE rn > 1
),
cov AS (
  SELECT DISTINCT doc, CAST(unnest(generate_series(pos, pos + {SUBSTR_K} - 1)) AS INT) AS p
  FROM rem
),
toks AS (
  SELECT doc, CAST(i - 1 AS INT) AS pos, ws[i] AS tok
  FROM (SELECT doc, ws, unnest(generate_series(1, len(ws))) AS i FROM w) t
),
kept AS (
  SELECT toks.doc, toks.pos, toks.tok
  FROM toks LEFT JOIN cov ON cov.doc = toks.doc AND cov.p = toks.pos
  WHERE cov.doc IS NULL
),
reb AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc
),
tot AS (SELECT doc, CAST(len(ws) AS INT) AS n_tokens FROM w)
SELECT t.doc, t.n_tokens, COALESCE(n_kept, 0) AS n_kept,
       COALESCE(cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN reb USING (doc)
"""


def doc_incremental_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring dedup driver-verified: the batch slice
    (doc_id % 3 == 0) is cleaned against the corpus slice (the rest)
    plus itself — corpus-present spans lose ALL batch occurrences (the
    corpus copy is canonical), batch-internal repeats keep their first.
    The corpus never shuffles (broadcast semi-join probes only); the
    cleaned batch text itself is hash-verified."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 3 != 0)
    batch = d.where(F.col("doc_id") % 3 == 0)
    return tx.remove_repeated_substrings_between(corpus, batch, k=SUBSTR_K)


_INCR_SUBSTRING_SQL = f"""
WITH w AS (SELECT doc_id AS doc, {_TOKS} AS ws FROM documents),
csites AS (
  SELECT doc, CAST(i - 1 AS INT) AS pos,
         {_h64(f"array_to_string(ws[i : i + {SUBSTR_K} - 1], ' ')")} AS h
  FROM (SELECT doc, ws, unnest(generate_series(1, len(ws) - {SUBSTR_K} + 1)) AS i
        FROM w WHERE len(ws) >= {SUBSTR_K} AND doc % 3 <> 0) s
),
bsites AS (
  SELECT doc, CAST(i - 1 AS INT) AS pos,
         {_h64(f"array_to_string(ws[i : i + {SUBSTR_K} - 1], ' ')")} AS h
  FROM (SELECT doc, ws, unnest(generate_series(1, len(ws) - {SUBSTR_K} + 1)) AS i
        FROM w WHERE len(ws) >= {SUBSTR_K} AND doc % 3 = 0) s
),
in_corpus AS (
  SELECT DISTINCT h FROM csites WHERE h IN (SELECT h FROM bsites)
),
internal AS (
  SELECT doc, pos FROM (
    SELECT doc, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc, pos) AS rn
    FROM bsites) r
  WHERE rn > 1
),
vs_corpus AS (
  SELECT doc, pos FROM bsites WHERE h IN (SELECT h FROM in_corpus)
),
rem AS (
  SELECT DISTINCT doc, pos
  FROM (SELECT * FROM internal UNION ALL SELECT * FROM vs_corpus) u
),
cov AS (
  SELECT DISTINCT doc, CAST(unnest(generate_series(pos, pos + {SUBSTR_K} - 1)) AS INT) AS p
  FROM rem
),
toks AS (
  SELECT doc, CAST(i - 1 AS INT) AS pos, ws[i] AS tok
  FROM (SELECT doc, ws, unnest(generate_series(1, len(ws))) AS i
        FROM w WHERE doc % 3 = 0) t
),
kept AS (
  SELECT toks.doc, toks.pos, toks.tok
  FROM toks LEFT JOIN cov ON cov.doc = toks.doc AND cov.p = toks.pos
  WHERE cov.doc IS NULL
),
reb AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc
),
tot AS (SELECT doc, CAST(len(ws) AS INT) AS n_tokens FROM w WHERE doc % 3 = 0)
SELECT t.doc, t.n_tokens, COALESCE(n_kept, 0) AS n_kept,
       COALESCE(cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN reb USING (doc)
"""


def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal (CCNet-style line dedup reshaped
    to fixed word segments): drop every 8-word segment shared by >= 3
    documents and reassemble the survivors — the cleaned text itself is
    hash-verified, so segmentation, the distinct-doc threshold, and
    ordered reassembly must all agree with the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return tx.remove_common_segments(
        d, width=SEG_WIDTH, min_docs=SEG_MIN_DOCS
    )


_SEGMENT_DEDUP_SQL = f"""
WITH w AS (SELECT doc_id AS doc, {_TOKS} AS ws FROM documents),
n AS (SELECT doc, ws, CAST(ceil(len(ws) / {SEG_WIDTH}.0) AS BIGINT) AS nseg FROM w),
ex AS (SELECT doc, ws, unnest(range(nseg)) AS seg_idx FROM n),
seg AS (
  SELECT doc, seg_idx,
         array_to_string(ws[seg_idx*{SEG_WIDTH}+1 : seg_idx*{SEG_WIDTH}+{SEG_WIDTH}], ' ') AS segment
  FROM ex
),
boiler AS (
  SELECT segment FROM (SELECT DISTINCT doc, segment FROM seg)
  GROUP BY segment HAVING COUNT(*) >= {SEG_MIN_DOCS}
),
kept AS (SELECT * FROM seg WHERE segment NOT IN (SELECT segment FROM boiler)),
reb AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(segment, ' ' ORDER BY seg_idx) AS cleaned_text
  FROM kept GROUP BY doc
),
tot AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_segs FROM seg GROUP BY doc)
SELECT t.doc, t.n_segs, COALESCE(n_kept, 0) AS n_kept,
       COALESCE(cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN reb USING (doc)
"""


def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus-frequency of each document's tokens — unigram-LM
    quality triage in exact integer arithmetic (the log-domain twin,
    ``unigram_logprob``, is property-tested instead: libm ulps)."""
    return tx.token_rarity(load_table(spark, sf_dir, "documents"))


_TOKEN_RARITY_SQL = f"""
WITH toks AS (SELECT doc_id AS doc, unnest({_TOKS}) AS token FROM documents),
tf AS (
  SELECT doc, token, COUNT(*) AS cnt FROM toks WHERE token <> '' GROUP BY doc, token
),
freq AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM tf GROUP BY token)
SELECT doc,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(cnt * freq) AS BIGINT) AS freq_mass,
       CAST(SUM(cnt * freq) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS mean_token_freq
FROM tf JOIN freq USING (token) GROUP BY doc
"""


# ---------------------------------------------------------------------------
# Round 6: incremental sketch merge, PQ training lift, behavior analytics
# ---------------------------------------------------------------------------

HLL_MERGE_CUTOFF = "2024-01-15"


def events_hll_users_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-actives via MERGED HLL sketches — the 100 TB
    ingest shape driver-verified: the corpus splits at a date cutoff,
    each half folds into its own register table, and ``hll_merge``
    (element-wise max) combines them WITHOUT rescanning either half. The
    oracle computes the whole-corpus register table directly, so the
    merge's losslessness is itself the hash-checked claim."""
    from gdutils_spark.operators.sketches import hll_merge, hll_registers

    # ts filter explicit (r13 null-fixture hunt): the incremental split
    # is BY DATE, so an undated event belongs to neither batch — the
    # date comparisons already drop it silently on this side, but the
    # whole-corpus oracle would count it, un-verifying the merge
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    cut = F.lit(HLL_MERGE_CUTOFF).cast("date")
    early = e.where(F.to_date("ts") < cut)
    late = e.where(F.to_date("ts") >= cut)
    ra = hll_registers(early, "user_id", "event_type", p=HLL_P)
    rb = hll_registers(late, "user_id", "event_type", p=HLL_P)
    return (
        hll_merge(ra, rb)
        .select(F.col("grp").alias("event_type"), "bucket", "reg")
    )


def _hll_merge_sql() -> str:
    m = 1 << HLL_P
    width = 60 - HLL_P
    return f"""
WITH h AS (
  SELECT event_type, {_h64("CAST(user_id AS VARCHAR)")} AS hv
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
r AS (
  SELECT event_type, hv % {m} AS bucket,
         CASE WHEN (hv >> {HLL_P}) = 0 THEN {width + 1}
              ELSE {width + 1} - length(bin(hv >> {HLL_P})) END AS rho
  FROM h
)
SELECT event_type, bucket, CAST(MAX(rho) AS INT) AS reg
FROM r GROUP BY 1, 2
"""


PR_DAMPING = 0.85
PR_ITERS = 3
PR_TOP = 50


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, both_directions: bool
) -> DataFrame:
    """The part co-purchase edge list (parts sharing an order are
    linked) — the ONE builder every graph-family query uses, so the
    join semantics can never drift between them. ``both_directions``
    for the operators whose node-set convention is "distinct sources"
    (pagerank, LPA); the canonicalizing operators (triangle_count,
    k_core) take the ``a.p < b.p`` half — both directions would only
    double the rows into their internal distinct."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a, b = li.alias("a"), li.alias("b")
    cmp = (
        (F.col("a.p") != F.col("b.p"))
        if both_directions
        else (F.col("a.p") < F.col("b.p"))
    )
    return a.join(b, (F.col("a.o") == F.col("b.o")) & cmp).select(
        F.col("a.p").alias("src"), F.col("b.p").alias("dst")
    )


def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative GRAPH algorithm driver-verified: PageRank over the part
    co-purchase graph (parts sharing an order are linked, both
    directions) — the importance-weighting primitive link/citation/
    co-occurrence graphs feed in a data pipeline. Three fully
    distributed power iterations (edge join + dst-keyed ordered-fold
    aggregate per iteration, localCheckpoint lineage pinning — no
    driver-side state); the oracle replays the whole chain as iteration
    CTEs like the Lloyd trainings, so every rank double is bit-exact.
    Returns the top 50 parts by rank, fully tie-broken."""

    from gdutils_spark.operators.graph import pagerank

    edges = _copurchase_edges(spark, sf_dir, both_directions=True)
    pr = pagerank(edges, damping=PR_DAMPING, n_iters=PR_ITERS)
    # top-k via orderBy+limit: TakeOrderedAndProject (per-partition
    # top-k + one tiny merge) — identical rows to the former global
    # row_number window (the (pr desc, node) order is total), but the
    # node-sized rank table never funnels through one partition
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node"))
        .limit(PR_TOP)
        .select(F.col("node").alias("part"), "pr")
    )


def _pr_iteration_ctes(
    i: int,
    prev: str,
    out: str,
    ed: str = "ed",
    deg: str = "deg",
    nodes: str = "nodes",
    nn: str = "nn",
    weighted: bool = False,
) -> list[str]:
    """The ONE power-iteration CTE triple (contributions / ordered fold /
    rank update) shared by every PageRank oracle — the bit-exact fold
    convention (``list_sum(list(c ORDER BY src))``, repr-inlined
    teleport/damping casts) must not drift between the plain, weighted
    and incremental replays (the ``_adjacent_pairs`` one-kernel rule)."""
    teleport = 1.0 - PR_DAMPING
    tele = f"CAST('{teleport!r}' AS DOUBLE)"
    damp = f"CAST('{PR_DAMPING!r}' AS DOUBLE)"
    c_expr = (
        f"p.pr * CAST({ed}.w AS DOUBLE) / CAST({deg}.deg AS DOUBLE)"
        if weighted
        else f"p.pr / CAST({deg}.deg AS DOUBLE)"
    )
    return [
        f"""c{i} AS (
  SELECT {ed}.dst AS node, {ed}.src AS src, {c_expr} AS c
  FROM {ed} JOIN {prev} p ON p.node = {ed}.src
  JOIN {deg} ON {deg}.src = {ed}.src)""",
        f"""s{i} AS (
  SELECT node, list_sum(list(c ORDER BY src)) AS s FROM c{i} GROUP BY node)""",
        f"""{out} AS (
  SELECT nd.node,
         {tele} / CAST({nn}.n AS DOUBLE)
         + {damp} * COALESCE(s, CAST(0.0 AS DOUBLE)) AS pr
  FROM {nodes} nd LEFT JOIN s{i} USING (node), {nn})""",
    ]


def _pr_top_sql(final_cte: str) -> str:
    """The shared fully-tie-broken top-50 wrapper."""
    return f"""
SELECT node AS part, pr FROM (
  SELECT node, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rn
  FROM {final_cte}
) WHERE rn <= {PR_TOP}
"""


def _pagerank_sql(weighted: bool = False) -> str:
    if weighted:
        ed_cte = """ed AS (SELECT a.p AS src, b.p AS dst,
       CAST(COUNT(*) AS BIGINT) AS w
       FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
       GROUP BY a.p, b.p)"""
        deg_cte = "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM ed GROUP BY 1)"
    else:
        ed_cte = """ed AS (SELECT DISTINCT a.p AS src, b.p AS dst
       FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p)"""
        deg_cte = "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY 1)"
    ctes = [
        "li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        ed_cte,
        deg_cte,
        "nodes AS (SELECT DISTINCT src AS node FROM ed)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        """pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS pr
        FROM nodes, nn)""",
    ]
    for i in range(1, PR_ITERS + 1):
        ctes += _pr_iteration_ctes(
            i, f"pr{i - 1}", f"pr{i}", weighted=weighted
        )
    body = ",\n".join(ctes)
    return f"WITH {body}" + _pr_top_sql(f"pr{PR_ITERS}")


def part_copurchase_pagerank_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED PageRank over the part co-purchase graph: edge weight =
    number of orders sharing the pair, so an edge seen 40 times carries
    40x the endorsement of a one-off — the co-occurrence-weighted
    importance signal a real recommendation prior uses. Same fully
    distributed chain as ``part_copurchase_pagerank`` with
    contributions ``pr·w/W`` (integer weights, one multiply + one
    divide per edge, ordered-fold sums) — every rank double bit-exact
    against the weighted iteration-CTE oracle. Top 50, tie-broken."""

    from gdutils_spark.operators.graph import pagerank

    wedges = (
        _copurchase_edges(spark, sf_dir, both_directions=True)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # validate=False: the weights come straight from our own
    # groupBy(src, dst).count() — duplicates and NULL/non-positive
    # weights are impossible by construction, so the two probe jobs
    # (one a full edge-list shuffle) would be pure overhead; the
    # validating path is pinned by tests/test_graph.py
    pr = pagerank(
        wedges, damping=PR_DAMPING, n_iters=PR_ITERS, weight="w",
        validate=False,
    )
    # top-k via orderBy+limit: TakeOrderedAndProject (per-partition
    # top-k + one tiny merge) — identical rows to the former global
    # row_number window (the (pr desc, node) order is total), but the
    # node-sized rank table never funnels through one partition
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node"))
        .limit(PR_TOP)
        .select(F.col("node").alias("part"), "pr")
    )


LPA_ITERS = 3


def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection driver-verified: synchronous label
    propagation (Raghavan et al. 2007) over the part co-purchase graph
    — the clustering primitive for co-occurrence/near-dup graphs when
    connected components is too coarse (CC merges everything touching;
    LPA keeps densely-linked groups apart). Three fully distributed
    rounds (edge join + (node,label) count + node-keyed argmax per
    round), all-integer arithmetic, fully tie-broken — the oracle
    replays the chain as iteration CTEs. Returns every part's final
    community label."""
    from gdutils_spark.operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir, both_directions=True)
    lab = label_propagation(edges, n_iters=LPA_ITERS)
    return lab.select(F.col("node").alias("part"), F.col("label").alias("community"))


def _lpa_sql() -> str:
    ctes = [
        "li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        """ed AS (SELECT DISTINCT a.p AS src, b.p AS dst
       FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p)""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed)",
    ]
    for i in range(1, LPA_ITERS + 1):
        ctes.append(
            f"""a{i} AS (
  SELECT ed.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ed JOIN l{i - 1} l ON l.node = ed.src GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM a{i}) WHERE rn = 1)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT node AS part, label AS community FROM l{LPA_ITERS}
"""


HLL_OVERLAP_CUT_A = "1998-01-01"  # cohort A: orders shipping before
HLL_OVERLAP_CUT_B = "1996-01-01"  # cohort B: orders shipping on/after


def lineitem_hll_order_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA driver-verified: estimate the overlap of two
    order cohorts (orders with shipments before 1998 vs on/after 1996 —
    the intersection is orders ACTIVE across both windows) by
    inclusion-exclusion over sketches alone:
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)``, the union sketch from
    :func:`hll_merge` (element-wise max) and every estimate folded from
    REGISTER TABLES by :func:`hll_estimate` — the events are never
    rescanned past the two register builds. This is the 100 TB
    audience/entity-overlap question answered at sketch cost; exact
    distinct counts ride alongside to grade the estimator (the standard
    caveat applies and is visible in the report: inclusion-exclusion
    error scales with the SET sizes, not the intersection size). One
    output row, every float pinned IEEE."""
    from gdutils_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cut_a = F.lit(HLL_OVERLAP_CUT_A).cast("date")
    cut_b = F.lit(HLL_OVERLAP_CUT_B).cast("date")
    cohort_a = li.where(F.col("l_shipdate") < cut_a)
    cohort_b = li.where(F.col("l_shipdate") >= cut_b)
    ra = hll_registers(
        cohort_a.withColumn("_g", F.lit("a")), "l_orderkey", "_g", p=HLL_P
    )
    rb = hll_registers(
        cohort_b.withColumn("_g", F.lit("b")), "l_orderkey", "_g", p=HLL_P
    )
    ru = hll_merge(
        ra.withColumn("grp", F.lit("u")), rb.withColumn("grp", F.lit("u"))
    )
    ests = hll_estimate(ra.unionByName(rb).unionByName(ru), p=HLL_P)
    pick = lambda g: F.max(F.when(F.col("grp") == g, F.col("hll_estimate")))
    wide = ests.agg(
        pick("a").alias("est_a"), pick("b").alias("est_b"),
        pick("u").alias("est_union"),
    )
    flags = li.groupBy("l_orderkey").agg(
        F.max((F.col("l_shipdate") < cut_a).cast("int")).alias("_fa"),
        F.max((F.col("l_shipdate") >= cut_b).cast("int")).alias("_fb"),
    )
    exact = flags.agg(
        F.sum("_fa").alias("n_exact_a"),
        F.sum("_fb").alias("n_exact_b"),
        F.sum((F.col("_fa") + F.col("_fb") == 2).cast("long")).alias(
            "n_exact_intersection"
        ),
    )
    inter = (F.col("est_a") + F.col("est_b")) - F.col("est_union")
    return wide.crossJoin(F.broadcast(exact)).select(
        "est_a", "est_b", "est_union",
        inter.alias("est_intersection"),
        "n_exact_a", "n_exact_b", "n_exact_intersection",
        (
            (inter - F.col("n_exact_intersection").cast("double"))
            / F.col("n_exact_intersection").cast("double")
        ).alias("intersection_rel_error"),
    )


def _hll_overlap_sql() -> str:
    from gdutils_spark.operators.sketches import _alpha_m2

    m = 1 << HLL_P
    width = 60 - HLL_P
    alpha = f"CAST('{_alpha_m2(HLL_P)!r}' AS DOUBLE)"
    fold = (
        "list_sum(list(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << reg) "
        "ORDER BY bucket))"
    )
    rho = (
        f"MAX(CASE WHEN (hv >> {HLL_P}) = 0 THEN {width + 1} "
        f"ELSE {width + 1} - length(bin(hv >> {HLL_P})) END)"
    )
    return f"""
WITH ha AS (SELECT DISTINCT {_h64("CAST(l_orderkey AS VARCHAR)")} AS hv
            FROM lineitem WHERE l_shipdate < DATE '{HLL_OVERLAP_CUT_A}'),
hb AS (SELECT DISTINCT {_h64("CAST(l_orderkey AS VARCHAR)")} AS hv
       FROM lineitem WHERE l_shipdate >= DATE '{HLL_OVERLAP_CUT_B}'),
ra AS (SELECT hv % {m} AS bucket, {rho} AS reg FROM ha GROUP BY 1),
rb AS (SELECT hv % {m} AS bucket, {rho} AS reg FROM hb GROUP BY 1),
ru AS (SELECT bucket, MAX(reg) AS reg
       FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
folds AS (
  SELECT 'a' AS grp, CAST(COUNT(*) AS BIGINT) AS nb, {fold} AS sp FROM ra
  UNION ALL
  SELECT 'b', CAST(COUNT(*) AS BIGINT), {fold} FROM rb
  UNION ALL
  SELECT 'u', CAST(COUNT(*) AS BIGINT), {fold} FROM ru
),
ests AS (
  SELECT grp, {alpha} / (sp + CAST({m} - nb AS DOUBLE)) AS est FROM folds
),
wide AS (
  SELECT MAX(CASE WHEN grp = 'a' THEN est END) AS est_a,
         MAX(CASE WHEN grp = 'b' THEN est END) AS est_b,
         MAX(CASE WHEN grp = 'u' THEN est END) AS est_union
  FROM ests
),
flags AS (
  SELECT l_orderkey,
         MAX(CASE WHEN l_shipdate < DATE '{HLL_OVERLAP_CUT_A}'
                  THEN 1 ELSE 0 END) AS fa,
         MAX(CASE WHEN l_shipdate >= DATE '{HLL_OVERLAP_CUT_B}'
                  THEN 1 ELSE 0 END) AS fb
  FROM lineitem GROUP BY l_orderkey
),
exact AS (
  SELECT CAST(SUM(fa) AS BIGINT) AS n_exact_a,
         CAST(SUM(fb) AS BIGINT) AS n_exact_b,
         CAST(SUM(CASE WHEN fa + fb = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_intersection
  FROM flags
)
SELECT est_a, est_b, est_union,
       (est_a + est_b) - est_union AS est_intersection,
       n_exact_a, n_exact_b, n_exact_intersection,
       ((est_a + est_b) - est_union - CAST(n_exact_intersection AS DOUBLE))
         / CAST(n_exact_intersection AS DOUBLE) AS intersection_rel_error
FROM wide, exact
"""


CDC_NEW_KEY_OFFSET = 100_000_000


def orders_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics driver-verified: a deterministic CDC batch
    (deletes for keys ≡0 mod 21, price-bump updates for other keys ≡0
    mod 7, re-keyed inserts for keys ≡3 mod 7) applied to the orders
    snapshot via anti-join + union — the copy-on-write merge a lakehouse
    format runs internally, as two shuffles on the merge key (none while
    ``orders`` loads as one partition)."""
    from gdutils_spark.operators.cdc import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dele = k % 21 == 0
    upd = (k % 7 == 0) & (k % 21 != 0)
    ins = k % 7 == 3
    # ONE filtered scan with per-row `when`s over the three disjoint
    # residues, not a union of three scans: a small table loads as one
    # partition, and a union of one-partition scans runs them serially
    # in one task (sources/tables.py)
    changed = {
        "o_orderkey": F.when(ins, k + F.lit(CDC_NEW_KEY_OFFSET)).otherwise(k),
        "o_orderstatus": F.when(upd, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
        "o_totalprice": F.when(
            upd, F.col("o_totalprice") + F.lit(100.0)
        ).otherwise(F.col("o_totalprice")),
    }
    changes = o.where(dele | upd | ins).select(
        *[changed.get(c, F.col(c)).alias(c) for c in o.columns],
        F.when(dele, F.lit("D")).when(upd, F.lit("U")).otherwise(F.lit("I"))
        .alias("op"),
    )
    # validate=False: this batch is constructed from disjoint key
    # residues (op domain and key uniqueness hold by construction), so
    # it is exactly the trusted-feed case the escape hatch exists for —
    # the two skipped probe jobs are covered by tests/test_cdc.py
    return apply_cdc(o, changes, ["o_orderkey"], validate=False)


_CDC_UPSERT_SQL = f"""
WITH ch AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, 'D' AS op
  FROM orders WHERE o_orderkey % 21 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, 'X', o_totalprice + CAST(100 AS DOUBLE),
         o_orderdate, o_orderpriority, 'U'
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
  UNION ALL
  SELECT o_orderkey + {CDC_NEW_KEY_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority, 'I'
  FROM orders WHERE o_orderkey % 7 = 3
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       o.o_orderdate, o.o_orderpriority
FROM orders o LEFT JOIN (SELECT DISTINCT o_orderkey FROM ch) c USING (o_orderkey)
WHERE c.o_orderkey IS NULL
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM ch WHERE op <> 'D'
"""


def user_event_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build from the event stream: one row per
    (user, event_type) run with valid_from/valid_to interval bounds and
    an is_current flag — lag-based change-point detection + lead-based
    interval close, event_id tie-broken so the history is well-defined.
    The standard SCD2 ETL, as two window passes over one shuffle."""
    from gdutils_spark.operators.cdc import scd2_history

    e = load_table(spark, sf_dir, "events")
    return scd2_history(
        e, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )


_SCD2_SQL = """
WITH pts AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_type,
         LAG(ts) OVER w AS prev_ts
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
cp AS (
  SELECT user_id, event_type, ts, event_id FROM pts
  WHERE prev_ts IS NULL OR prev_type IS DISTINCT FROM event_type
)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER w2 AS valid_to,
       (LEAD(ts) OVER w2 IS NULL) AS is_current
FROM cp
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def doc_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup screen — the membership sketch completing the
    family (HLL: how many distinct; CMS: how often; Bloom: seen
    before?): the historical half of the corpus folds into a 4096-bit
    packed word table (bit_or aggregate), and the incoming half probes
    it WITHOUT any join against the history. might_contain=false is
    definitive (no false negatives — the property that makes Bloom a
    safe pre-filter for incremental dedup / decontamination at 100 TB);
    true → verify the tiny candidate set exactly. Every word, bit and
    verdict is integer arithmetic — hash-verified cross-engine."""
    from gdutils_spark.operators.sketches import bloom_bits, bloom_might_contain

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", F.md5(dd.normalize_text(F.col("text"))).alias("fp")
    )
    hist = fp.where(F.col("doc_id") % 2 == 0)
    batch = fp.where(F.col("doc_id") % 2 == 1)
    words = bloom_bits(hist, "fp")
    return bloom_might_contain(words, batch, "fp")


def _bloom_screen_sql() -> str:
    from gdutils_spark.operators.dedup import _perm_constants
    from gdutils_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_HASHES,
        CMS_PRIME,
    )

    a, b = _perm_constants(BLOOM_HASHES)
    hist_arms = "\n  UNION ALL ".join(
        f"SELECT ((h * {a[i]} + {b[i]}) % {CMS_PRIME}) % {BLOOM_BITS} AS p FROM hx"
        for i in range(BLOOM_HASHES)
    )
    batch_arms = "\n  UNION ALL ".join(
        f"SELECT doc_id, fp, ((h * {a[i]} + {b[i]}) % {CMS_PRIME}) % {BLOOM_BITS} AS p"
        f" FROM batch"
        for i in range(BLOOM_HASHES)
    )
    return f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
hx AS (
  SELECT {_h64("fp")} % {CMS_PRIME} AS h FROM fp WHERE doc_id % 2 = 0
),
pos AS (
  {hist_arms}
),
words AS (
  SELECT p >> 5 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
  FROM pos GROUP BY 1
),
batch AS (
  SELECT doc_id, fp, {_h64("fp")} % {CMS_PRIME} AS h
  FROM fp WHERE doc_id % 2 = 1
),
bpos AS (
  {batch_arms}
),
chk AS (
  SELECT bp.doc_id, bp.fp,
         (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(bp.p & 31 AS INT)))
           <> 0 AS hit
  FROM (SELECT doc_id, fp, p, p >> 5 AS word FROM bpos) bp
  LEFT JOIN words w USING (word)
)
SELECT doc_id, fp, CAST(MIN(CAST(hit AS INT)) AS BOOLEAN) AS might_contain
FROM chk GROUP BY 1, 2
"""


HIST_LO = 0.0
HIST_HI = 500.0
HIST_NBINS = 500
HIST_QS = (0.5, 0.9, 0.99)
DRIFT_MOD = 3  # cohort A = events with event_id ≡ 0 (mod 3), B = the rest


def event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT gate driver-verified: two-sample chi-square +
    total-variation distance between two cohorts' value distributions,
    computed ENTIRELY from mergeable histogram register tables
    (:func:`hist_drift_report`) — the nightly "schema didn't change,
    but did the distribution?" check a training pipeline runs before
    admitting a new batch, at sketch cost (bin-sized join + one
    ascending-bin ordered fold; neither cohort rescanned past its
    register build). Exact BIGINT chi-square numerators, per-bin IEEE
    terms, ordered folds — the whole report hash-verifies."""
    from gdutils_spark.operators.sketches import (
        hist_drift_report,
        hist_registers,
    )

    e = load_table(spark, sf_dir, "events")
    # ONE corpus scan builds BOTH cohorts' registers (grouped build +
    # register-sized filters), instead of one filtered scan per cohort;
    # pinned — it feeds both filters (no subtree reuse)
    regs = hist_registers(
        e.withColumn("_is_a", F.col("event_id") % DRIFT_MOD == 0),
        "value", HIST_LO, HIST_HI, HIST_NBINS, group_col="_is_a",
    ).localCheckpoint(eager=False)
    ca = regs.where(F.col("grp")).select("bin", "cnt")
    cb = regs.where(~F.col("grp")).select("bin", "cnt")
    # registers built in-session with the same geometry — trusted
    return hist_drift_report(ca, cb, HIST_NBINS, validate=False)


def event_type_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP distribution drift driver-verified: which event type's
    value distribution moved between the two cohorts — the
    per-segment/per-source nightly gate a global drift score can't see
    (one domain shifting while another compensates). ONE corpus scan
    builds every (event_type × cohort) register cell (struct group
    key), then :func:`hist_drift_report_by_group` computes each type's
    chi-square + total-variation from bin-sized relations. Exact BIGINT
    numerators, per-group ascending-bin ordered folds — every group row
    hash-verifies."""
    from gdutils_spark.operators.sketches import (
        hist_drift_report_by_group,
        hist_registers,
    )

    e = load_table(spark, sf_dir, "events")
    regs = hist_registers(
        e.withColumn(
            "_ck",
            F.struct(
                F.col("event_type").alias("et"),
                (F.col("event_id") % DRIFT_MOD == 0).alias("isa"),
            ),
        ),
        "value", HIST_LO, HIST_HI, HIST_NBINS, group_col="_ck",
    ).localCheckpoint(eager=False)  # feeds both cohort filters
    ca = regs.where(F.col("grp.isa")).select(
        F.col("grp.et").alias("grp"), "bin", "cnt"
    )
    cb = regs.where(~F.col("grp.isa")).select(
        F.col("grp.et").alias("grp"), "bin", "cnt"
    )
    out = hist_drift_report_by_group(ca, cb, HIST_NBINS, validate=False)
    return out.select(
        F.col("grp").alias("event_type"),
        "n_a", "n_b", "n_bins_used", "chi2", "tv_distance",
    )


def _drift_by_group_sql() -> str:
    bin_expr = f"""CAST(least(greatest(floor((v - CAST({HIST_LO} AS DOUBLE))
                                   * CAST({HIST_NBINS} AS DOUBLE)
                                   / (CAST({HIST_HI} AS DOUBLE)
                                      - CAST({HIST_LO} AS DOUBLE))),
                             CAST(0 AS DOUBLE)),
                    CAST({HIST_NBINS - 1} AS DOUBLE)) AS INT)"""
    return f"""
WITH vals AS (
  SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
binned AS (
  SELECT event_id, event_type, {bin_expr} AS bin
  FROM vals WHERE NOT isnan(v)
),
ra AS (SELECT event_type AS grp, bin, CAST(COUNT(*) AS BIGINT) AS ca
       FROM binned WHERE event_id % {DRIFT_MOD} = 0 GROUP BY 1, 2),
rb AS (SELECT event_type AS grp, bin, CAST(COUNT(*) AS BIGINT) AS cb
       FROM binned WHERE event_id % {DRIFT_MOD} <> 0 GROUP BY 1, 2),
j AS (
  SELECT COALESCE(ra.grp, rb.grp) AS grp, COALESCE(ra.bin, rb.bin) AS bin,
         COALESCE(ca, CAST(0 AS BIGINT)) AS ca,
         COALESCE(cb, CAST(0 AS BIGINT)) AS cb
  FROM ra FULL OUTER JOIN rb ON ra.grp = rb.grp AND ra.bin = rb.bin
  WHERE COALESCE(ca, CAST(0 AS BIGINT)) + COALESCE(cb, CAST(0 AS BIGINT)) > 0
),
tot AS (
  SELECT grp, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_bins_used
  FROM j GROUP BY grp
),
terms AS (
  SELECT j.grp, bin, n_a, n_b, n_bins_used,
         CAST(ca * n_b - cb * n_a AS DOUBLE)
           * CAST(ca * n_b - cb * n_a AS DOUBLE)
           / CAST(ca + cb AS DOUBLE) AS tc,
         abs(CASE WHEN n_a > 0 THEN CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END
             - CASE WHEN n_b > 0 THEN CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END) AS tt
  FROM j JOIN tot ON j.grp = tot.grp
),
folded AS (
  SELECT grp, n_a, n_b, n_bins_used,
         list_sum(list(tc ORDER BY bin)) AS chi_raw,
         list_sum(list(tt ORDER BY bin)) AS tv_raw
  FROM terms GROUP BY 1, 2, 3, 4
)
SELECT grp AS event_type, n_a, n_b, n_bins_used,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN chi_raw / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS chi2,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(0.5 AS DOUBLE) * tv_raw END AS tv_distance
FROM folded
"""


def _drift_sql() -> str:
    bin_expr = f"""CAST(least(greatest(floor((v - CAST({HIST_LO} AS DOUBLE))
                                   * CAST({HIST_NBINS} AS DOUBLE)
                                   / (CAST({HIST_HI} AS DOUBLE)
                                      - CAST({HIST_LO} AS DOUBLE))),
                             CAST(0 AS DOUBLE)),
                    CAST({HIST_NBINS - 1} AS DOUBLE)) AS INT)"""
    return f"""
WITH vals AS (
  SELECT event_id, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
binned AS (
  SELECT event_id, {bin_expr} AS bin
  FROM vals WHERE NOT isnan(v)
),
ra AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ca FROM binned
       WHERE event_id % {DRIFT_MOD} = 0 GROUP BY bin),
rb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cb FROM binned
       WHERE event_id % {DRIFT_MOD} <> 0 GROUP BY bin),
j AS (
  SELECT COALESCE(ra.bin, rb.bin) AS bin,
         COALESCE(ca, CAST(0 AS BIGINT)) AS ca,
         COALESCE(cb, CAST(0 AS BIGINT)) AS cb
  FROM ra FULL OUTER JOIN rb ON ra.bin = rb.bin
  WHERE COALESCE(ca, CAST(0 AS BIGINT)) + COALESCE(cb, CAST(0 AS BIGINT)) > 0
),
tot AS (
  SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_bins_used
  FROM j
),
terms AS (
  SELECT bin,
         CAST(ca * n_b - cb * n_a AS DOUBLE)
           * CAST(ca * n_b - cb * n_a AS DOUBLE)
           / CAST(ca + cb AS DOUBLE) AS tc,
         abs(CASE WHEN n_a > 0 THEN CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END
             - CASE WHEN n_b > 0 THEN CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END) AS tt
  FROM j, tot
),
-- GLOBAL aggregate (no GROUP BY) mirrors the Spark side: the report is
-- ALWAYS exactly one row, even when both cohorts are empty
folded AS (
  SELECT list_sum(list(tc ORDER BY bin)) AS chi_raw,
         list_sum(list(tt ORDER BY bin)) AS tv_raw
  FROM terms
)
SELECT n_a, n_b, n_bins_used,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN chi_raw / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS chi2,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(0.5 AS DOUBLE) * tv_raw END AS tv_distance
FROM folded, tot
"""


def event_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile report via the fixed-bin histogram sketch —
    the distribution question (p50/p90/p99) answered the way HLL answers
    distinct-count: the corpus splits in two halves, each folds into a
    500-bin integer register table, :func:`hist_merge` adds them WITHOUT
    rescanning either half, and :func:`hist_quantiles` interpolates the
    estimates from the merged counts. Exact ``percentile`` over the
    whole corpus rides alongside to grade the estimator (``abs_err``) —
    a production 100 TB run drops the exact column and keeps the sketch
    path, which is one map-combinable aggregate into 500 counters.
    Every estimate step is pinned IEEE arithmetic, so the whole report
    hash-verifies against the SQL replay."""
    from gdutils_spark.operators.sketches import (
        hist_merge,
        hist_quantiles,
        hist_registers,
    )

    # NaN measures dropped at entry (r13 null-fixture hunt): the exact
    # percentile grader orders NaN largest in Spark while quantile_cont
    # ignores it — the report's measure policy is NULL-and-NaN-free
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    ra = hist_registers(
        e.where(F.col("event_id") % 2 == 0), "value", HIST_LO, HIST_HI,
        HIST_NBINS,
    )
    rb = hist_registers(
        e.where(F.col("event_id") % 2 == 1), "value", HIST_LO, HIST_HI,
        HIST_NBINS,
    )
    # both half-register tables are built in-session with the same
    # (lo, hi, n_bins) — clean by construction, skip the geometry probe
    ests = hist_quantiles(
        hist_merge(ra, rb), list(HIST_QS), HIST_LO, HIST_HI, HIST_NBINS,
        validate=False,
    )
    exact = e.agg(
        *[
            F.percentile(F.col("value"), F.lit(q)).alias(
                f"_e{int(q * 100)}"
            )
            for q in HIST_QS
        ]
    )
    exact_col = (
        F.when(F.col("q") == HIST_QS[0], F.col(f"_e{int(HIST_QS[0]*100)}"))
        .when(F.col("q") == HIST_QS[1], F.col(f"_e{int(HIST_QS[1]*100)}"))
        .otherwise(F.col(f"_e{int(HIST_QS[2]*100)}"))
    )
    # 1-row exact side → BroadcastNestedLoopJoin Cross is the correct
    # plan for a 1-row relation (precedent: customer_rfm_scores)
    return ests.crossJoin(F.broadcast(exact)).select(
        "q",
        "est",
        exact_col.alias("exact_q"),
        F.abs(F.col("est") - exact_col).alias("abs_err"),
    )


_HIST_QSKETCH_SQL = f"""
WITH vals AS (
  SELECT event_id, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
binned AS (
  SELECT event_id,
         CAST(least(greatest(floor((v - CAST({HIST_LO} AS DOUBLE))
                                   * CAST({HIST_NBINS} AS DOUBLE)
                                   / (CAST({HIST_HI} AS DOUBLE)
                                      - CAST({HIST_LO} AS DOUBLE))),
                             CAST(0 AS DOUBLE)),
                    CAST({HIST_NBINS - 1} AS DOUBLE)) AS INT) AS bin
  -- NaN skipped like NULL (the hist_registers rule); the EXACT
  -- percentile below intentionally keeps vals unfiltered — it mirrors
  -- the Spark side's raw aggregate, not the sketch's input
  FROM vals WHERE NOT isnan(v)
),
ra AS (SELECT bin, COUNT(*) AS cnt FROM binned WHERE event_id % 2 = 0 GROUP BY bin),
rb AS (SELECT bin, COUNT(*) AS cnt FROM binned WHERE event_id % 2 = 1 GROUP BY bin),
merged AS (
  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) u GROUP BY bin
),
cum AS (
  SELECT bin, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_below,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total
  FROM merged
),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES ({HIST_QS[0]}), ({HIST_QS[1]}), ({HIST_QS[2]})) t(q)),
picked AS (
  SELECT q, bin, cnt, cum_below,
         q * (CAST(total AS DOUBLE) - CAST(1.0 AS DOUBLE)) AS t
  FROM cum, qs
),
ests AS (
  SELECT q,
         CAST({HIST_LO} AS DOUBLE)
         + ((CAST({HIST_HI} AS DOUBLE) - CAST({HIST_LO} AS DOUBLE))
            / CAST({HIST_NBINS} AS DOUBLE))
           * (CAST(bin AS DOUBLE)
              + (t - CAST(cum_below AS DOUBLE)) / CAST(cnt AS DOUBLE)) AS est
  FROM picked
  WHERE CAST(cum_below AS DOUBLE) <= t
    AND t < CAST(cum_below + cnt AS DOUBLE)
),
exact AS (
  SELECT quantile_cont(v, {HIST_QS[0]}) AS e50,
         quantile_cont(v, {HIST_QS[1]}) AS e90,
         quantile_cont(v, {HIST_QS[2]}) AS e99
  FROM vals
)
SELECT q, est,
       CASE WHEN q = CAST({HIST_QS[0]} AS DOUBLE) THEN e50
            WHEN q = CAST({HIST_QS[1]} AS DOUBLE) THEN e90
            ELSE e99 END AS exact_q,
       abs(est - CASE WHEN q = CAST({HIST_QS[0]} AS DOUBLE) THEN e50
                      WHEN q = CAST({HIST_QS[1]} AS DOUBLE) THEN e90
                      ELSE e99 END) AS abs_err
FROM ests, exact
"""


_PROFILE_COLS = (
    ("event_id", "bigint", True),
    ("ts", "timestamp", False),
    ("user_id", "bigint", True),
    ("event_type", "string", False),
    ("value", "double", True),
    ("props", "string", False),
)


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile driver-verified: null counts, exact
    cardinalities and numeric ranges for every events column, computed
    in ONE global aggregate and melted to rows with a codegen'd stack —
    the describe-this-feed report a pipeline runs before trusting new
    data. Means are deliberately absent (double sums are
    fold-order-sensitive; distribution shape lives in the sketch
    queries)."""
    from gdutils_spark.operators.summaries import profile_table

    return profile_table(load_table(spark, sf_dir, "events"))


def _profile_sql() -> str:
    aggs = ["COUNT(*) AS n"]
    arms = []
    for c, dt, num in _PROFILE_COLS:
        aggs.append(f"COUNT({c}) AS nn_{c}")
        aggs.append(f"COUNT(DISTINCT {c}) AS nd_{c}")
        if num:
            aggs.append(f"CAST(MIN({c}) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(MAX({c}) AS DOUBLE) AS mx_{c}")
        mn = f"mn_{c}" if num else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if num else "CAST(NULL AS DOUBLE)"
        arms.append(
            f"SELECT '{c}' AS col_name, '{dt}' AS dtype, "
            f"CAST(n AS BIGINT) AS n_rows, CAST(n - nn_{c} AS BIGINT) AS n_null, "
            f"CAST(nd_{c} AS BIGINT) AS n_distinct, {mn} AS min_num, "
            f"{mx} AS max_num FROM w"
        )
    return (
        "WITH w AS (SELECT " + ", ".join(aggs) + " FROM events)\n"
        + "\nUNION ALL\n".join(arms)
    )


Z_BITS = 8
Z_SPECS = (("user_id", 0.0, 2048.0), ("value", 0.0, 500.0))
Z_BUCKET_LOG2 = 4


def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering key driver-verified: Morton-interleave
    (user_id, value) bits — the Delta/Iceberg OPTIMIZE ZORDER BY
    technique — and report each top-4-bit bucket's row count and
    per-dimension min/max envelope, i.e. exactly the statistics a
    reader's file-skipping consults. Tight envelopes in BOTH dimensions
    per bucket are the clustering claim; the whole key computation is
    integer shifts over declared ranges, replayed bit-for-bit in SQL."""
    from gdutils_spark.operators.layout import zorder_layout_stats

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return zorder_layout_stats(
        e, list(Z_SPECS), bits=Z_BITS, n_buckets_log2=Z_BUCKET_LOG2
    )


def _zorder_sql() -> str:
    from gdutils_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(list(Z_SPECS), bits=Z_BITS)
    shift = len(Z_SPECS) * Z_BITS - Z_BUCKET_LOG2
    return f"""
WITH e AS (
  SELECT user_id, value FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
keyed AS (SELECT ({z}) >> {shift} AS bucket, user_id, value FROM e)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM keyed WHERE bucket IS NOT NULL GROUP BY bucket
"""
# WHERE bucket IS NOT NULL: zorder_layout_stats EXCLUDES NULL-keyed rows
# (NaN/NULL dims route to a dedicated null file at write time, never a
# bucket envelope) — the oracle twin must too (r13 null-fixture hunt)


GHIST_QS = (0.5, 0.9)


def event_type_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantile sketch: p50/p90 of event value per event type
    from grouped histogram registers (groups × 500 integer counters, one
    map-combinable aggregate) — the per-segment distribution report that
    exact per-group ``percentile`` cannot partial-aggregate at 100 TB.
    Exact grouped percentiles ride alongside; every estimate step is
    pinned IEEE, so all groups × quantiles hash-verify."""
    from gdutils_spark.operators.sketches import hist_quantiles, hist_registers

    # NaN-and-NULL-free measure policy (see event_value_quantile_sketch)
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    reg = hist_registers(
        e, "value", HIST_LO, HIST_HI, HIST_NBINS, group_col="event_type"
    )
    # registers built in-session with the same (lo, hi, n_bins) —
    # clean by construction, skip the geometry-probe action
    ests = hist_quantiles(
        reg, list(GHIST_QS), HIST_LO, HIST_HI, HIST_NBINS, validate=False
    )
    exact = e.groupBy(F.col("event_type").alias("grp")).agg(
        *[
            F.percentile(F.col("value"), F.lit(q)).alias(f"_e{int(q * 100)}")
            for q in GHIST_QS
        ]
    )
    exact_col = F.when(
        F.col("q") == GHIST_QS[0], F.col(f"_e{int(GHIST_QS[0]*100)}")
    ).otherwise(F.col(f"_e{int(GHIST_QS[1]*100)}"))
    return ests.join(F.broadcast(exact), "grp").select(
        F.col("grp").alias("event_type"),
        "q",
        "est",
        exact_col.alias("exact_q"),
        F.abs(F.col("est") - exact_col).alias("abs_err"),
    )


_GHIST_SQL = f"""
WITH vals AS (
  SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
binned AS (
  SELECT grp,
         CAST(least(greatest(floor((v - CAST({HIST_LO} AS DOUBLE))
                                   * CAST({HIST_NBINS} AS DOUBLE)
                                   / (CAST({HIST_HI} AS DOUBLE)
                                      - CAST({HIST_LO} AS DOUBLE))),
                             CAST(0 AS DOUBLE)),
                    CAST({HIST_NBINS - 1} AS DOUBLE)) AS INT) AS bin
  -- NaN skipped like NULL (the hist_registers rule); exact keeps vals
  -- unfiltered to mirror the Spark side's raw grouped aggregate
  FROM vals WHERE NOT isnan(v)
),
reg AS (SELECT grp, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2),
cum AS (
  SELECT grp, bin, cnt,
         CAST(COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_below,
         CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS total
  FROM reg
),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES ({GHIST_QS[0]}), ({GHIST_QS[1]})) t(q)),
picked AS (
  SELECT grp, q, bin, cnt, cum_below,
         q * (CAST(total AS DOUBLE) - CAST(1.0 AS DOUBLE)) AS t
  FROM cum, qs
),
ests AS (
  SELECT grp, q,
         CAST({HIST_LO} AS DOUBLE)
         + ((CAST({HIST_HI} AS DOUBLE) - CAST({HIST_LO} AS DOUBLE))
            / CAST({HIST_NBINS} AS DOUBLE))
           * (CAST(bin AS DOUBLE)
              + (t - CAST(cum_below AS DOUBLE)) / CAST(cnt AS DOUBLE)) AS est
  FROM picked
  WHERE CAST(cum_below AS DOUBLE) <= t
    AND t < CAST(cum_below + cnt AS DOUBLE)
),
exact AS (
  SELECT grp, quantile_cont(v, {GHIST_QS[0]}) AS e50,
         quantile_cont(v, {GHIST_QS[1]}) AS e90
  FROM vals GROUP BY grp
)
SELECT e.grp AS event_type, q, est,
       CASE WHEN q = CAST({GHIST_QS[0]} AS DOUBLE) THEN e50
            ELSE e90 END AS exact_q,
       abs(est - CASE WHEN q = CAST({GHIST_QS[0]} AS DOUBLE) THEN e50
                      ELSE e90 END) AS abs_err
FROM ests e JOIN exact USING (grp)
"""


BK_K = 512
BK_QS = (0.5, 0.9, 0.99)


def event_value_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED-domain mergeable quantiles via the bottom-k (KMV)
    sample — the complement of ``event_value_quantile_sketch``'s
    fixed-bin histogram: no declared [lo, hi) bounds, rank error
    ~1/sqrt(k) instead of bin-width error. The md5-keyed sample is
    deterministic and MERGEABLE (bottom-k of a union == bottom-k of the
    combined bottom-k's), demonstrated the incremental way: each corpus
    half folds to its own k-sample, :func:`bottomk_merge` combines them
    without rescanning either half, and the quantiles come off the
    merged sample. Exact percentiles ride alongside to grade the
    estimator; the whole report hash-verifies (the sample membership is
    a pure function of the keys)."""
    from gdutils_spark.operators.sketches import (
        bottomk_merge,
        bottomk_quantiles,
        bottomk_sample,
    )

    # NaN-and-NULL-free measure policy (see event_value_quantile_sketch)
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    sa = bottomk_sample(e.where(F.col("event_id") % 2 == 0), "event_id", "value", BK_K)
    sb = bottomk_sample(e.where(F.col("event_id") % 2 == 1), "event_id", "value", BK_K)
    ests = bottomk_quantiles(bottomk_merge(sa, sb, BK_K), list(BK_QS))
    exact = e.agg(
        *[
            F.percentile(F.col("value"), F.lit(q)).alias(f"_e{int(q * 100)}")
            for q in BK_QS
        ]
    )
    exact_col = (
        F.when(F.col("q") == BK_QS[0], F.col(f"_e{int(BK_QS[0]*100)}"))
        .when(F.col("q") == BK_QS[1], F.col(f"_e{int(BK_QS[1]*100)}"))
        .otherwise(F.col(f"_e{int(BK_QS[2]*100)}"))
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "q",
        "est",
        exact_col.alias("exact_q"),
        F.abs(F.col("est") - exact_col).alias("abs_err"),
    )


def _bottomk_quantiles_sql() -> str:
    hk = _h64("CAST(event_id AS VARCHAR)")
    arm = lambda q: (
        f"SELECT CAST({q} AS DOUBLE) AS q, quantile_cont(val, {q}) AS est FROM m"
    )
    return f"""
WITH vals AS (
  SELECT event_id, CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
),
sa AS (SELECT {hk} AS hk, v AS val FROM vals WHERE event_id % 2 = 0
       ORDER BY 1, 2 LIMIT {BK_K}),
sb AS (SELECT {hk} AS hk, v AS val FROM vals WHERE event_id % 2 = 1
       ORDER BY 1, 2 LIMIT {BK_K}),
m AS (SELECT hk, val FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) u
      ORDER BY hk, val LIMIT {BK_K}),
ests AS (
  {arm(BK_QS[0])}
  UNION ALL
  {arm(BK_QS[1])}
  UNION ALL
  {arm(BK_QS[2])}
),
exact AS (
  SELECT quantile_cont(v, {BK_QS[0]}) AS e50,
         quantile_cont(v, {BK_QS[1]}) AS e90,
         quantile_cont(v, {BK_QS[2]}) AS e99
  FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL AND NOT isnan(value)) t
)
SELECT q, est,
       CASE WHEN q = CAST({BK_QS[0]} AS DOUBLE) THEN e50
            WHEN q = CAST({BK_QS[1]} AS DOUBLE) THEN e90
            ELSE e99 END AS exact_q,
       abs(est - CASE WHEN q = CAST({BK_QS[0]} AS DOUBLE) THEN e50
                      WHEN q = CAST({BK_QS[1]} AS DOUBLE) THEN e90
                      ELSE e99 END) AS abs_err
FROM ests, exact
"""


BIGRAM_TOP_K = 30


def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM table: top adjacent-pair counts with exact
    conditional probabilities P(w2|w1) = c(w1,w2)/c(w1,·) — the counting
    kernel under n-gram LM quality scoring (KenLM-style CCNet prep) and
    tokenizer-merge statistics. Exact integers + one division per row;
    the top-k cut is fully tie-broken, so the whole table hash-verifies."""
    from gdutils_spark.operators.text import bigram_lm

    return bigram_lm(
        load_table(spark, sf_dir, "documents"), top_k=BIGRAM_TOP_K
    )


_BIGRAM_LM_SQL = f"""
WITH base AS (SELECT regexp_split_to_array({_NORM}, ' ') AS w FROM documents),
g AS (
  SELECT CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w)-1),
                                  i -> [w[i], w[i+1]])
              ELSE CAST([] AS VARCHAR[][]) END AS pairs
  FROM base
),
pc AS (
  SELECT p[1] AS w1, p[2] AS w2, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM (SELECT unnest(pairs) AS p FROM g) GROUP BY 1, 2
),
wt AS (SELECT w1, CAST(SUM(pair_count) AS BIGINT) AS w1_count FROM pc GROUP BY 1)
SELECT w1, w2, pair_count, w1_count,
       CAST(pair_count AS DOUBLE) / w1_count AS cond_prob
FROM pc JOIN wt USING (w1)
ORDER BY pair_count DESC, w1, w2
LIMIT {BIGRAM_TOP_K}
"""


def doc_bigram_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram OOV-rate scoring driver-verified, in the cross-validation
    shape: the held-out slice (doc_id % 5 == 0) is scored against a
    bigram LM built from the REST of the corpus — the exact-integer
    n-gram quality signal (a doc whose adjacent pairs are absent from
    the reference LM is off-distribution). Exact counts + one final
    division per doc, all hash-verified."""
    from gdutils_spark.operators.text import bigram_lm, bigram_oov_rate

    d = load_table(spark, sf_dir, "documents")
    lm = bigram_lm(d.where(F.col("doc_id") % 5 != 0))
    return bigram_oov_rate(d.where(F.col("doc_id") % 5 == 0), lm)


_BIGRAM_OOV_SQL = f"""
WITH base AS (
  SELECT doc_id AS doc, regexp_split_to_array({_NORM}, ' ') AS w FROM documents
),
g AS (
  SELECT doc, CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w)-1),
                                  i -> [w[i], w[i+1]])
              ELSE CAST([] AS VARCHAR[][]) END AS pairs
  FROM base
),
lmp AS (
  SELECT DISTINCT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(pairs) AS p FROM g WHERE doc % 5 <> 0) s
),
bp AS (
  SELECT doc, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc, unnest(pairs) AS p FROM g WHERE doc % 5 = 0) s
),
fl AS (
  SELECT bp.doc,
         CASE WHEN lmp.w1 IS NULL THEN 1 ELSE 0 END AS oov
  FROM bp LEFT JOIN lmp ON lmp.w1 = bp.w1 AND lmp.w2 = bp.w2
)
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM fl GROUP BY doc
"""


CMS_PROBES = 20


def doc_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy report: for the corpus's top tokens,
    the CMS frequency estimate (min over 4 md5-affine hash rows of 256
    exact-integer counters) against the exact count, plus the
    guaranteed-non-negative overcount. Every counter, probe cell and
    min is integer arithmetic — hash-verified cross-engine; the
    registers are the same map-combinable/mergeable shape as the HLL
    registers (frequency instead of cardinality)."""
    from gdutils_spark.operators.sketches import cms_estimate, cms_registers

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(dd.normalize_text(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    reg = cms_registers(toks, "token")
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_freq"))
    probes = exact.orderBy(F.col("exact_freq").desc(), "token").limit(CMS_PROBES)
    # registers built in-session with the default geometry — clean by
    # construction, so skip the eager geometry-probe action
    est = cms_estimate(reg, probes, "token", validate=False)
    return est.select(
        "token",
        "exact_freq",
        "cms_est",
        (F.col("cms_est") - F.col("exact_freq")).alias("overcount"),
    )


def _cms_sql() -> str:
    from gdutils_spark.operators.dedup import _perm_constants
    from gdutils_spark.operators.sketches import CMS_DEPTH, CMS_PRIME, CMS_WIDTH

    a, b = _perm_constants(CMS_DEPTH)
    cell_arms = "\n  UNION ALL ".join(
        f"SELECT token, {i} AS row, "
        f"CAST(((h * {a[i]} + {b[i]}) % {CMS_PRIME}) % {CMS_WIDTH} AS INT) AS col "
        f"FROM hx"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH occ AS (
  SELECT unnest({_TOKS}) AS token FROM documents
),
o AS (SELECT token FROM occ WHERE token <> ''),
hx AS (SELECT token, {_h64("token")} % {CMS_PRIME} AS h FROM o),
cells AS (
  {cell_arms}
),
reg AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
exact AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_freq FROM o GROUP BY 1),
probes AS (
  SELECT token, exact_freq FROM exact ORDER BY exact_freq DESC, token LIMIT {CMS_PROBES}
),
ph AS (SELECT token, {_h64("token")} % {CMS_PRIME} AS h FROM probes),
pcells AS (
  {cell_arms.replace("FROM hx", "FROM ph")}
),
est AS (
  SELECT pc.token, MIN(COALESCE(r.cnt, 0)) AS cms_est
  FROM pcells pc LEFT JOIN reg r USING (row, col)
  GROUP BY pc.token
)
SELECT p.token, p.exact_freq, e.cms_est, e.cms_est - p.exact_freq AS overcount
FROM probes p JOIN est e USING (token)
"""


def _pq_adc_search_sql(extra_ctes: str, cb_name: str) -> str:
    """Full PQ-ADC top-k search as SQL over an arbitrary codebook CTE —
    shared by the refined-codebook arm of emb_pq_recall (the seed arm
    reuses the already-green _knn_pq_sql)."""
    sub = EMB_DIMS // PQ_M
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
{extra_ctes},
d AS (
  SELECT e.vec_id, t.s AS subspace, cb.code_idx,
         list_sum(list_transform(range({sub}), i ->
           (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
           * (e.v[CAST(t.s*{sub} + i + 1 AS INT)] - cb.cv[CAST(t.s*{sub} + i + 1 AS INT)])
         )) AS d2
  FROM e CROSS JOIN range({PQ_M}) t(s) CROSS JOIN {cb_name} cb
),
best AS (
  SELECT vec_id, subspace, code_idx, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY d2, code_idx) AS rn
  FROM d
),
adc AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list(t.d2 ORDER BY b.subspace)) AS approx_d2
  FROM (SELECT vec_id FROM e WHERE vec_id < {N_QUERIES}) q
  JOIN best b ON b.rn = 1 AND b.vec_id <> q.vec_id
  JOIN d t ON t.vec_id = q.vec_id AND t.subspace = b.subspace
          AND t.code_idx = b.code_idx
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2 FROM (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""


def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ training lift, driver-verified: recall@k of PQ-ADC search with
    SEED codebooks vs Lloyd-REFINED codebooks against the exact
    brute-force truth — the report that justifies paying for codebook
    training. Exact-integer hit totals, one final division."""
    vectors = load_table(spark, sf_dir, "embeddings")
    queries = vectors.where(F.col("vec_id") < N_QUERIES)
    truth = sim.knn_bruteforce(vectors, queries, k=KNN_K)
    denom = float(N_QUERIES * KNN_K)
    # one-invocation sharing across the two arms (r15, guide §1.2):
    # both arms collect the same guarded query set, and the refined
    # arm's Lloyd chain STARTS from the seed arm's codebook — one seed
    # job + one query collect instead of two of each. Results are
    # bit-identical (pq_refine_codebooks seeds from the same rows).
    wf = sim._well_formed(vectors, "vec_id", "embedding")
    seed_cb = sim._seed_centroids(wf, "vec_id", "embedding", PQ_K)[1]
    qpdf = sim._collect_guarded_queries(
        sim._well_formed(queries, "vec_id", "embedding"),
        "vec_id", "embedding", 100_000, "emb_pq_recall",
    )
    arms = []
    for variant, iters in (("seed", 0), ("refined", PQ_REFINE_ITERS)):
        approx = sim.knn_pq(
            vectors, queries, k=KNN_K, m=PQ_M, n_codes=PQ_K,
            refine_iters=iters, _seed_cb=seed_cb, _qpdf=qpdf,
        )
        hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
        arms.append(
            hits.agg(
                F.lit(variant).alias("variant"),
                F.count(F.lit(1)).alias("n_hits"),
                (F.count(F.lit(1)).cast("double") / F.lit(denom)).alias(
                    "mean_recall"
                ),
            )
        )
    return arms[0].unionByName(arms[1])


def _pq_recall_sql() -> str:
    refined_cb = _pq_refined_cb_ctes(PQ_REFINE_ITERS)
    return f"""
WITH exact AS ({_KNN_SQL}),
seed AS ({_knn_pq_sql()}),
refined AS ({_pq_adc_search_sql(refined_cb, f"cb{PQ_REFINE_ITERS}")})
SELECT 'seed' AS variant, CAST(h.n AS BIGINT) AS n_hits,
       CAST(h.n AS DOUBLE) / CAST({N_QUERIES * KNN_K} AS DOUBLE) AS mean_recall
FROM (SELECT COUNT(*) AS n FROM exact e
      JOIN seed a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id) h
UNION ALL
SELECT 'refined' AS variant, CAST(h.n AS BIGINT) AS n_hits,
       CAST(h.n AS DOUBLE) / CAST({N_QUERIES * KNN_K} AS DOUBLE) AS mean_recall
FROM (SELECT COUNT(*) AS n FROM exact e
      JOIN refined a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id) h
"""


def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile scoring (recency / frequency / monetary) per
    customer over orders — the classic segmentation rollup. Monetary
    routes through DECIMAL for bit-parity; every ntile ordering carries
    a custkey tie-break so ranks are deterministic. One orders shuffle
    on custkey + three windows over the customer-sized aggregate."""
    from pyspark.sql import Window

    from gdutils_spark.queries import _dec

    # anonymous/undated orders can't be segmented (and a NULL recency
    # would sort NULLS FIRST in Spark's ASC ntile vs NULLS LAST in
    # DuckDB's, shifting every quintile boundary — r13 null-fixture
    # hunt): both keys are required
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(_dec("o_totalprice")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r_w = Window.orderBy(F.col("recency_days"), F.col("o_custkey"))
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    return per.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )


_RFM_SQL = """
WITH per AS (
  SELECT o_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders
                    WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(CASE WHEN isnan(o_totalprice) THEN NULL ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  GROUP BY o_custkey
)
SELECT o_custkey, CAST(recency_days AS INT) AS recency_days, frequency, monetary,
       CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
       CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
FROM per
"""


def event_type_daily_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly scores: per (event_type, day), the z-score of that
    day's event count against the type's own daily history — the
    monitoring query every ingest pipeline runs. Bit-exact across
    engines WITHOUT ordered folds: numerator ``cnt·n − Σx`` and the
    variance radicand ``n·Σx² − (Σx)²`` are exact integers, sqrt is
    IEEE-exact, and one final division closes it. Two map-combinable
    aggregates + a type-keyed broadcast join."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    radicand = (F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    )
    num = (F.col("n_events") * F.col("n_days") - F.col("s1")).cast("double")
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_events",
        F.when(radicand > 0, num / F.sqrt(radicand)).alias("zscore"),
    )


_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS s1,
         CAST(SUM(n_events * n_events) AS BIGINT) AS s2
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.n_events,
       CASE WHEN n_days * s2 - s1 * s1 > 0
            THEN CAST(d.n_events * n_days - s1 AS DOUBLE)
                 / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE))
       END AS zscore
FROM daily d JOIN stats USING (event_type)
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016) — beyond-reference: the
# data-driven subword tokenizer learner. The oracle replays the full
# training loop as a CTE chain (the repo's Lloyd-chain pattern): per
# iteration, pair counts over the vocabulary state, the fully tie-broken
# argmax, and the same greedy left-fold merge via list_reduce.
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table: 8 merge rounds over the corpus word-
    frequency dictionary — one corpus scan total, then vocabulary-sized
    rounds (pair-count aggregate + 1-row argmax + codegen fold), the
    distributed form of Sennrich et al.'s learn_bpe. Fully tie-broken
    (count desc, pair lexicographic), so the merge table is
    deterministic and the DuckDB oracle replays the identical chain."""
    from gdutils_spark.operators.text import bpe_train

    return bpe_train(
        load_table(spark, sf_dir, "documents"), n_merges=BPE_MERGES
    ).select(
        F.col("rank").alias("merge_rank"),
        "left_sym",
        "right_sym",
        "pair_count",
    )


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus subword-token table under the learned BPE: every token the
    trained tokenizer emits, weighted by word frequency — computed from
    the final vocabulary state, so corpus-size-independent after the one
    word-count scan."""
    from gdutils_spark.operators.text import bpe_token_stats

    return bpe_token_stats(
        load_table(spark, sf_dir, "documents"), n_merges=BPE_MERGES
    )


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE sequence-length accounting (the pre-packing
    token budget): each document's words joined against the trained
    vocabulary's per-word symbol counts — vocabulary broadcast, corpus
    never shuffles."""
    from gdutils_spark.operators.text import bpe_encode_stats

    return bpe_encode_stats(
        load_table(spark, sf_dir, "documents"), n_merges=BPE_MERGES
    )


def _bpe_ctes(n_iters: int) -> str:
    """CTE chain computing the BPE training loop to ``v{n_iters}`` /
    ``b1..b{n_iters}``: seed state = per-character symbols + '</w>',
    then per round pair counts (adjacency weighted by word freq), the
    tie-broken argmax, and the greedy left-fold merge — ``list_reduce``
    with the same last-symbol CASE as the Spark ``aggregate`` fold
    (verified bit-identical)."""
    ctes = [
        f"base AS (SELECT regexp_split_to_array({_NORM}, ' ') AS w FROM documents)",
        """wf AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(w) AS word FROM base)
  WHERE length(word) > 0 GROUP BY word)""",
        """v0 AS (
  SELECT word, freq,
         array_to_string(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, CAST(i AS INT), 1)),
                         ' ') || ' </w>' AS sym
  FROM wf)""",
    ]
    for i in range(1, n_iters + 1):
        prev = f"v{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq, unnest(CASE WHEN len(s) >= 2
        THEN list_transform(generate_series(1, len(s) - 1),
                            j -> [s[j], s[j + 1]])
        ELSE CAST([] AS VARCHAR[][]) END) AS pr
    FROM (SELECT freq, string_split(sym, ' ') AS s FROM {prev})
  ) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        # LEFT JOIN ON TRUE (not CROSS JOIN): an exhausted round — empty
        # b{i} — must carry v{i-1} forward unchanged, matching the Spark
        # trainer's early stop; a cross join would empty every later CTE
        # and silently truncate the chain instead.
        ctes.append(
            f"""v{i} AS (
  SELECT v.word, v.freq,
         CASE WHEN b.a IS NULL THEN v.sym
              ELSE list_reduce(string_split(v.sym, ' '), (acc, x) ->
           CASE WHEN (acc = b.a OR (length(acc) >= length(b.a) + 1
                        AND right(acc, length(b.a) + 1) = ' ' || b.a))
                     AND x = b.b
                THEN left(acc, length(acc) - length(b.a)) || b.a || b.b
                ELSE acc || ' ' || x END) END AS sym
  FROM {prev} v LEFT JOIN b{i} b ON TRUE)"""
        )
    return ",\n".join(ctes)


def _bpe_merges_sql() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"cnt AS pair_count FROM b{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return f"WITH {_bpe_ctes(BPE_MERGES)}\n{unions}"


def _bpe_token_stats_sql() -> str:
    return f"""
WITH {_bpe_ctes(BPE_MERGES)}
SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM (SELECT freq, unnest(string_split(sym, ' ')) AS token FROM v{BPE_MERGES})
GROUP BY token
"""


def _bpe_encode_sql() -> str:
    return f"""
WITH {_bpe_ctes(BPE_MERGES)},
wl AS (SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sym
       FROM v{BPE_MERGES}),
dw AS (
  SELECT doc, word FROM (
    SELECT doc_id AS doc, unnest(regexp_split_to_array({_NORM}, ' ')) AS word
    FROM documents)
  WHERE length(word) > 0)
SELECT dw.doc, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens
FROM dw JOIN wl USING (word) GROUP BY dw.doc
"""


# ---------------------------------------------------------------------------
# Round-7 late additions: exact triangle counting, KMV set algebra,
# robust (median/MAD) outlier detection.
# ---------------------------------------------------------------------------

TRI_TOP = 100


def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting driver-verified: per-part triangle count
    + local clustering coefficient over the part co-purchase graph via
    degree-ordered orientation (Suri & Vassilvitskii 2011) — wedge work
    bounded O(m^{3/2}) regardless of degree skew, each triangle
    generated exactly once, all-integer arithmetic + one final IEEE
    division. Top ``TRI_TOP`` parts by (n_triangles desc, part) — a
    deterministic TakeOrderedAndProject cut, no window."""
    from gdutils_spark.operators.graph import triangle_count

    edges = _copurchase_edges(spark, sf_dir, both_directions=False)
    tri = triangle_count(edges)
    return (
        tri.orderBy(F.col("n_triangles").desc(), F.col("node"))
        .limit(TRI_TOP)
        .select(F.col("node").alias("part"), "degree", "n_triangles", "lcc")
    )


def _triangles_sql(li_pred: str = "TRUE") -> str:
    """Full triangle-report replay (degree-ordered orientation), shared
    by the batch query and the incremental one (whose oracle IS the
    full-corpus replay — incremental == rebuild is the pinned claim);
    ``li_pred`` restricts the lineitem universe."""
    return f"""
WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
            WHERE {li_pred}),
eu AS (SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
       FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT u AS node FROM eu UNION ALL SELECT v AS node FROM eu)
        GROUP BY node),
ed AS (SELECT eu.u, eu.v, du.degree AS du, dv.degree AS dv
       FROM eu JOIN deg du ON eu.u = du.node JOIN deg dv ON eu.v = dv.node),
o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS db
      FROM ed),
w AS (SELECT o1.a AS c, o1.b AS x, o2.b AS y
      FROM o o1 JOIN o o2 ON o1.a = o2.a
       AND (o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b))),
t AS (SELECT c, x, y FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.x AND o.b = w.y)),
tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
       (SELECT c AS node FROM t UNION ALL SELECT x AS node FROM t
        UNION ALL SELECT y AS node FROM t) GROUP BY node),
fin AS (SELECT deg.node, deg.degree,
               COALESCE(tn.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
        FROM deg LEFT JOIN tn ON deg.node = tn.node)
SELECT node AS part, degree, n_triangles,
       CASE WHEN degree >= 2
            THEN CAST(2 * n_triangles AS DOUBLE)
                 / CAST(degree * (degree - 1) AS DOUBLE)
            ELSE CAST('0.0' AS DOUBLE) END AS lcc
FROM fin
ORDER BY n_triangles DESC, part
LIMIT {TRI_TOP}
"""


KMV_OVERLAP_K = 256
KMV_CUT_A = "1994-01-01"
KMV_CUT_B = "1996-01-01"


def lineitem_kmv_part_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA driver-verified: estimate the overlap of two part
    cohorts (parts shipped before ``KMV_CUT_A`` vs on/after
    ``KMV_CUT_B``)
    from bottom-k distinct-value sketches alone — union = member-merge,
    Jaccard = shared-member fraction of the union sketch (Beyer et al.
    2007), intersection = jaccard · est(union). The
    inclusion-exclusion-free twin of ``lineitem_hll_order_overlap``:
    overlap error scales with the UNION sketch, not the set sizes.
    Exact counts ride alongside to grade the estimator; one output row,
    every float a single IEEE op on md5-pinned inputs."""
    from gdutils_spark.operators.sketches import kmv_overlap_report

    li = load_table(spark, sf_dir, "lineitem")
    cohort_a = li.where(F.col("l_shipdate") < F.lit(KMV_CUT_A).cast("date"))
    cohort_b = li.where(F.col("l_shipdate") >= F.lit(KMV_CUT_B).cast("date"))
    return kmv_overlap_report(
        cohort_a, cohort_b, "l_partkey", k=KMV_OVERLAP_K
    )


def _kmv_overlap_sql() -> str:
    k = KMV_OVERLAP_K
    dom = f"CAST('{float(1 << 60)!r}' AS DOUBLE)"
    km1 = f"CAST('{float(k - 1)!r}' AS DOUBLE)"

    def est(t: str) -> str:
        return (
            f"CASE WHEN {t}.n < {k} THEN CAST({t}.n AS DOUBLE) "
            f"ELSE {km1} / (CAST({t}.mx AS DOUBLE) / {dom}) END"
        )

    return f"""
WITH ca AS (SELECT DISTINCT {_h64("CAST(l_partkey AS VARCHAR)")} AS hk
            FROM lineitem WHERE l_shipdate < DATE '{KMV_CUT_A}'),
ska AS (SELECT hk FROM ca ORDER BY hk LIMIT {k}),
cb AS (SELECT DISTINCT {_h64("CAST(l_partkey AS VARCHAR)")} AS hk
       FROM lineitem WHERE l_shipdate >= DATE '{KMV_CUT_B}'),
skb AS (SELECT hk FROM cb ORDER BY hk LIMIT {k}),
sku AS (SELECT hk FROM (SELECT hk FROM ska UNION SELECT hk FROM skb)
        ORDER BY hk LIMIT {k}),
ea AS (SELECT COUNT(*) AS n, MAX(hk) AS mx FROM ska),
eb AS (SELECT COUNT(*) AS n, MAX(hk) AS mx FROM skb),
eu AS (SELECT COUNT(*) AS n, MAX(hk) AS mx FROM sku),
sh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shared FROM sku
       WHERE hk IN (SELECT hk FROM ska) AND hk IN (SELECT hk FROM skb)),
us AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union_sketch FROM sku),
xa AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_a_exact
       FROM lineitem WHERE l_shipdate < DATE '{KMV_CUT_A}'),
xb AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_b_exact
       FROM lineitem WHERE l_shipdate >= DATE '{KMV_CUT_B}'),
xi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_inter_exact FROM (
         SELECT DISTINCT l_partkey FROM lineitem
         WHERE l_shipdate < DATE '{KMV_CUT_A}'
         INTERSECT
         SELECT DISTINCT l_partkey FROM lineitem
         WHERE l_shipdate >= DATE '{KMV_CUT_B}'))
SELECT xa.n_a_exact, xb.n_b_exact, xi.n_inter_exact,
       {est("ea")} AS est_a,
       {est("eb")} AS est_b,
       {est("eu")} AS est_union,
       sh.n_shared, us.n_union_sketch,
       CAST(sh.n_shared AS DOUBLE) / CAST(us.n_union_sketch AS DOUBLE)
         AS jaccard_est,
       (CAST(sh.n_shared AS DOUBLE) / CAST(us.n_union_sketch AS DOUBLE))
         * ({est("eu")})
         AS est_intersection
FROM ea, eb, eu, sh, us, xa, xb, xi
"""


# k sits just below the co-purchase graph's sharp core threshold (the
# random-graph core phase transition: k=80 retains a ~1,860-node
# nucleus at sf0.01, k=95 peels the whole graph), and 6 rounds converge
# it (min core_degree >= k, test-pinned at this fixture).
KCORE_K = 80
KCORE_ITERS = 6


def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel driver-verified: the degree-≥-``KCORE_K`` (80)
    nucleus of the part co-purchase graph after ``KCORE_ITERS`` (6)
    bounded peeling rounds — the robustness member of the graph family
    (importance =
    pagerank, partition = LPA, cohesion = triangles). All-integer
    arithmetic; the oracle replays every round as iteration CTEs, so a
    converged-vs-not bound can never diverge between engines."""
    from gdutils_spark.operators.graph import k_core

    edges = _copurchase_edges(spark, sf_dir, both_directions=False)
    return k_core(edges, k=KCORE_K, n_iters=KCORE_ITERS).select(
        F.col("node").alias("part"), "core_degree"
    )


def _kcore_sql() -> str:
    # every e{i} is consumed THREE times (its degree table twice via the
    # UNION ALL unpivot, and the next round's filter) — inlined CTEs
    # would re-derive the whole chain 3^iters times, so each round is
    # AS MATERIALIZED (DuckDB's explicit no-subtree-reuse escape, the
    # SQL-side twin of the operator's localCheckpoint discipline)
    ctes = [
        "li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        """e0 AS MATERIALIZED (
  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p)""",
    ]
    for i in range(1, KCORE_ITERS + 1):
        prev = f"e{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS c FROM
  (SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
  GROUP BY node)"""
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {KCORE_K})"
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i}))"""
        )
    body = ",\n".join(ctes)
    last = f"e{KCORE_ITERS}"
    return f"""
WITH {body}
SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS core_degree FROM
  (SELECT u AS node FROM {last} UNION ALL SELECT v AS node FROM {last})
GROUP BY node
"""


COSINE_T = 0.5
COSINE_SHINGLE_K = 3


def doc_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-cosine similarity join driver-verified: all document
    pairs with 3-shingle-tf cosine ≥ ``COSINE_T`` via the
    inverted-index self-join (``dedup.cosine_tf_pairs``) — the
    vector-space twin of ``doc_ngram_dup_pairs``'s set-overlap Jaccard
    (counts keep repetition; the Jaccard path's distinct sets do not).
    Shingles, not unigrams: the fixture's 31-token vocabulary makes
    every unigram corpus-hot and the join all-pairs (measured 103 s at
    sf0.1); 3-shingles are long-tailed (max doc-frequency 7) and the
    identical semantics cost ~80× fewer join rows. Integer tf vectors
    make the dot product an exact BIGINT and the norms IEEE-exact
    sqrts, so every score hash-verifies with no ordered folds."""
    return dd.cosine_tf_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=COSINE_T,
        shingle_k=COSINE_SHINGLE_K,
    )


# the k-gram expression and the range bound BOTH derive from
# COSINE_SHINGLE_K — a hardcoded width would silently desync the
# oracle from the Spark side if the constant ever changes
_COSINE_KGRAM = " || ' ' || ".join(
    f"ws[i+{j}]" if j else "ws[i]" for j in range(COSINE_SHINGLE_K)
)

_COSINE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id AS doc, {_TOKS} AS ws FROM documents),
sh AS (
  SELECT doc, unnest([{_COSINE_KGRAM}
                      for i in range(1, len(ws) - {COSINE_SHINGLE_K - 2})])
         AS token
  FROM toks WHERE len(ws) >= {COSINE_SHINGLE_K}),
tf AS (SELECT doc, token, CAST(COUNT(*) AS BIGINT) AS tf
       FROM sh WHERE token <> '' GROUP BY doc, token),
norms AS (SELECT doc, CAST(SUM(tf * tf) AS BIGINT) AS sq FROM tf GROUP BY doc),
dots AS (SELECT a.doc AS d1, b.doc AS d2,
                CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
         FROM tf a JOIN tf b ON a.token = b.token AND a.doc < b.doc
         GROUP BY a.doc, b.doc),
scored AS (
  SELECT d1, d2, dot,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE)))
           AS cosine
  FROM dots JOIN norms na ON dots.d1 = na.doc
            JOIN norms nb ON dots.d2 = nb.doc)
SELECT d1, d2, dot, cosine FROM scored
WHERE cosine >= CAST('{COSINE_T!r}' AS DOUBLE)
"""


MAD_THRESHOLD = 3.5


def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection driver-verified: per-event-type modified
    z-score summary (Iglewicz & Hoaglin 1993) — median/MAD instead of
    mean/stddev (the ``event_type_daily_zscore`` pair), so the location
    and scale estimates cannot be dragged by the outliers themselves.
    Multiplicative flag form needs no MAD=0 division guard; percentile
    == quantile_cont parity carries the medians, every other float op is
    a single IEEE multiply/divide."""
    from gdutils_spark.operators.summaries import mad_outlier_summary

    ev = load_table(spark, sf_dir, "events")
    return mad_outlier_summary(
        ev, "value", "event_type", threshold=MAD_THRESHOLD
    ).select(
        F.col("grp").alias("event_type"),
        "med",
        "mad",
        "n",
        "n_outliers",
        "outlier_frac",
    )


def _mad_outliers_sql() -> str:
    c_mad = f"CAST('{0.6745!r}' AS DOUBLE)"
    c_thr = f"CAST('{float(MAD_THRESHOLD)!r}' AS DOUBLE)"
    return f"""
WITH base AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
              FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
med AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM base GROUP BY grp),
resid AS (SELECT base.grp, base.v, med.med, abs(base.v - med.med) AS r
          FROM base JOIN med USING (grp)),
mad AS (SELECT grp, quantile_cont(r, 0.5) AS mad FROM resid GROUP BY grp),
fl AS (SELECT resid.grp, resid.med, mad.mad,
              (resid.r * {c_mad} > {c_thr} * mad.mad) AS is_out
       FROM resid JOIN mad USING (grp))
SELECT grp AS event_type, med, mad,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS outlier_frac
FROM fl GROUP BY grp, med, mad
"""


BASKET_MIN_PAIR = 2
BASKET_TOP = 100


def part_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant 1994's A-priori level-2 statistics, Spark-first): for every
    part pair co-occurring in ≥ ``BASKET_MIN_PAIR`` orders, support,
    both directed confidences, and lift — top ``BASKET_TOP`` by
    (pair count desc, a, b). The co-occurrence twin of the
    co-purchase GRAPH queries: same underlying self-join, but scored as
    rule statistics instead of topology.

    Determinism: every statistic is a ratio of exact BIGINT counts
    (lift's numerator/denominator are integer PRODUCTS — ``c_ab·N`` and
    ``c_a·c_b`` — multiplied before the single IEEE division), so the
    whole result hash-verifies with no ordered folds anywhere.

    100 TB shape: the pair count is the standard (basket, item)
    self-join bucketed by basket key — never all item pairs globally,
    only within-basket pairs (Σ b_i² work, the A-priori candidate
    bound); item counts and the basket total are map-combinable; the
    rule table joins item counts twice, both item-sized (AQE
    broadcasts). The distinct (basket, item) table has FIVE consumers
    (self-join both sides, item counts, basket total) and Spark plans
    no subtree reuse, so it is localCheckpoint-pinned — unstaged, the
    corpus scan and the distinct shuffle would run five times. A hot
    basket (one order with 10⁶ items) is the skew hazard — cap basket
    size upstream, the standard A-priori move. Integer-overflow note:
    lift's ``c_ab·N`` product wraps silently in non-ANSI Spark past
    2^63 (N > ~3·10⁹ baskets against a universal item) where the
    DuckDB oracle raises — at that scale enable ANSI mode or scale the
    counts, the repo's documented wrap-vs-raise trap."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_baskets = items.agg(
        F.count_distinct("o").alias("n_baskets")
    )
    item_cnt = items.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pair_cnt = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(
            F.col("a.p").alias("pa"), F.col("b.p").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= BASKET_MIN_PAIR)
    )
    scored = (
        pair_cnt.join(
            item_cnt.select(F.col("p").alias("pa"), F.col("c").alias("c_a")),
            "pa",
        )
        .join(
            item_cnt.select(F.col("p").alias("pb"), F.col("c").alias("c_b")),
            "pb",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    return (
        scored.select(
            "pa",
            "pb",
            "c_ab",
            "c_a",
            "c_b",
            (
                F.col("c_ab").cast("double")
                / F.col("n_baskets").cast("double")
            ).alias("support"),
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("c_ab").cast("double") / F.col("c_b").cast("double")).alias(
                "conf_b_to_a"
            ),
            (
                (F.col("c_ab") * F.col("n_baskets")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("c_ab").desc(), "pa", "pb")
        .limit(BASKET_TOP)
    )


def _basket_rules_sql() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM items),
ic AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY p),
pc AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       GROUP BY a.p, b.p
       HAVING COUNT(*) >= {BASKET_MIN_PAIR})
SELECT pc.pa, pc.pb, pc.c_ab, ia.c AS c_a, ib.c AS c_b,
       CAST(pc.c_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
       CAST(pc.c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE) AS conf_a_to_b,
       CAST(pc.c_ab AS DOUBLE) / CAST(ib.c AS DOUBLE) AS conf_b_to_a,
       CAST(pc.c_ab * nb.n_baskets AS DOUBLE)
         / CAST(ia.c * ib.c AS DOUBLE) AS lift
FROM pc JOIN ic ia ON pc.pa = ia.p JOIN ic ib ON pc.pb = ib.p, nb
ORDER BY pc.c_ab DESC, pc.pa, pc.pb
LIMIT {BASKET_TOP}
"""


def user_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table over per-user event
    sequences: ``(from_type, to_type, n, p)`` with ``p`` the row-
    normalized transition probability — the behavioral-model primitive
    under funnel design and sessionized recommendation ("what follows a
    click?"). Successor pairs come from one ``lead`` window per user
    ordered by (ts, event_id) — fully tie-broken, so the sequence (and
    every count downstream) is deterministic. Exact integer counts +
    one final IEEE division per row.

    100 TB shape: ONE window shuffle keyed by user (state = one row
    lookahead, no collect_list), then a (from, to)-keyed map-combinable
    count — the transition table is |event types|² regardless of corpus
    size. The row normalizer is a window-SUM over that tiny count table
    (one types²-sized shuffle), NOT a groupBy + join back: the join
    formulation gives `cnt` two consumers and Catalyst plans no subtree
    reuse, so the corpus lead() window would execute twice
    (plan-asserted single Window over the corpus)."""
    from pyspark.sql import Window

    # sequence policy (r13 null-fixture hunt): an event without a
    # timestamp has no position in the per-user sequence — and the
    # engines DISAGREE on where it would sort (Spark windows order
    # NULLS FIRST, DuckDB NULLS LAST), silently shifting every
    # neighboring transition
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_tot = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(w_tot).alias("n_from"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(w_tot).cast("double")
        ).alias("p"),
    )


_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events WHERE ts IS NOT NULL),
cnt AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM cnt GROUP BY from_type)
SELECT cnt.from_type, cnt.to_type, cnt.n, tot.n_from,
       CAST(cnt.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p
FROM cnt JOIN tot USING (from_type)
"""


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of shipment volume
    across each nation's suppliers: ``(nation, n_suppliers, n_items,
    hhi, equivalent_n)`` — HHI = Σ share² over the nation's suppliers,
    ``equivalent_n = 1/HHI`` the effective competitor count. The
    supply-concentration risk report (a nation whose HHI → 1 ships
    everything through one supplier).

    The whole index is computed in INTEGER space — HHI =
    Σ c_s² / (Σ c_s)² with c_s the supplier's lineitem count, so the
    numerator and denominator are exact BIGINTs and the only float ops
    are two final IEEE divisions. No ordered folds, no share-sum
    order sensitivity (the naive Σ(c/total)² is order-dependent; the
    integer form is not). Two map-combinable aggregates + one
    nation-keyed rollup + a broadcast nation-name join.
    Integer-overflow note: ``c²`` wraps silently in non-ANSI Spark
    once a single supplier exceeds ~3·10⁹ rows (the DuckDB oracle
    raises instead) — at that scale enable ANSI mode or pre-scale the
    counts, the repo's documented wrap-vs-raise trap."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("s"), F.col("s_nationkey").alias("nk")
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    per_sup = (
        li.join(F.broadcast(sup), "s")
        .groupBy("nk", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_nat = per_sup.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("c").alias("n_items"),
        F.sum(F.col("c") * F.col("c")).alias("_sum_sq"),
    )
    hhi = F.col("_sum_sq").cast("double") / (
        F.col("n_items") * F.col("n_items")
    ).cast("double")
    return per_nat.join(F.broadcast(nat), "nk").select(
        "nation",
        "n_suppliers",
        "n_items",
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("equivalent_n"),
    )


_HHI_SQL = """
WITH per_sup AS (
  SELECT s.s_nationkey AS nk, li.l_suppkey AS sk,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem li JOIN supplier s ON li.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, li.l_suppkey),
per_nat AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(c) AS BIGINT) AS n_items,
         CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM per_sup GROUP BY nk)
SELECT n.n_name AS nation, p.n_suppliers, p.n_items,
       CAST(p.sum_sq AS DOUBLE) / CAST(p.n_items * p.n_items AS DOUBLE)
         AS hhi,
       CAST('1.0' AS DOUBLE)
         / (CAST(p.sum_sq AS DOUBLE) / CAST(p.n_items * p.n_items AS DOUBLE))
         AS equivalent_n
FROM per_nat p JOIN nation n ON p.nk = n.n_nationkey
"""


# ---------------------------------------------------------------------------
# Round 8: CMS heavy hitters, per-group bottom-k quantiles, incremental
# PageRank maintenance, weighted priority sampling
# ---------------------------------------------------------------------------

HH_DIVISOR = 1000  # heavy-hitter cut: phi = 1/1000 of total occurrences


def doc_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS FREQUENT-ITEMS report driver-verified — the surface a
    frequency sketch exists for ("which items are hot?"), on bigrams
    (the unigram vocabulary is deliberately flat in this corpus): the
    register table is built INCREMENTALLY (each half-corpus folds to
    its own sketch, ``cms_merge`` adds them without rescanning either
    half — the merge's losslessness is itself hash-checked), the
    φ·N threshold derives from the corpus size, and the report keeps
    the exact count alongside so the no-false-negatives property is
    visible: every true hitter survives (CMS never undercounts);
    ``is_true_hitter`` grades the overcounted near-misses. All-integer
    counters and cuts — the whole report hash-verifies."""
    from gdutils_spark.operators.sketches import (
        cms_heavy_hitters,
        cms_merge,
        cms_registers,
    )
    from gdutils_spark.operators.text import _adjacent_pairs
    from gdutils_spark.operators.text import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("doc"), _tokens(F.col("text")).alias("_ws")
    ).select("doc", "_ws", F.size("_ws").alias("_n"))
    # pair occurrences feed FOUR consumers (total count, two half
    # sketches, exact candidate counts) — pin the explode once
    pairs = (
        base.select(
            "doc",
            F.explode(
                _adjacent_pairs(F.col("_ws"), F.col("_n"), "w1", "w2")
            ).alias("p"),
        )
        .select("doc", F.concat_ws(" ", "p.w1", "p.w2").alias("pair"))
        .localCheckpoint(eager=False)
    )
    threshold = max(1, pairs.count() // HH_DIVISOR)
    ra = cms_registers(pairs.where(F.col("doc") % 2 == 0), "pair")
    rb = cms_registers(pairs.where(F.col("doc") % 2 == 1), "pair")
    exact = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("exact_freq"))
    # both half-sketches are built in-session with the same default
    # geometry — clean by construction, skip the geometry-probe action
    hh = cms_heavy_hitters(
        cms_merge(ra, rb), exact, "pair", threshold, validate=False
    )
    return hh.select(
        "pair",
        "exact_freq",
        "cms_est",
        (F.col("cms_est") - F.col("exact_freq")).alias("overcount"),
        F.lit(threshold).cast("long").alias("threshold"),
        (F.col("exact_freq") >= threshold).alias("is_true_hitter"),
    )


def _cms_heavy_hitters_sql() -> str:
    from gdutils_spark.operators.dedup import _perm_constants
    from gdutils_spark.operators.sketches import CMS_DEPTH, CMS_PRIME, CMS_WIDTH

    a, b = _perm_constants(CMS_DEPTH)
    cell_arms = "\n  UNION ALL ".join(
        f"SELECT pair, {i} AS row, "
        f"CAST(((h * {a[i]} + {b[i]}) % {CMS_PRIME}) % {CMS_WIDTH} AS INT) AS col "
        f"FROM hx"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH base AS (SELECT doc_id AS doc, {_TOKS} AS w FROM documents),
g AS (
  SELECT doc, CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w)-1),
                                  i -> w[i] || ' ' || w[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS pairs
  FROM base
),
o AS (SELECT doc, unnest(pairs) AS pair FROM g),
th AS (SELECT GREATEST(CAST(COUNT(*) // {HH_DIVISOR} AS BIGINT),
                       CAST(1 AS BIGINT)) AS th FROM o),
hx AS (SELECT pair, {_h64("pair")} % {CMS_PRIME} AS h FROM o),
cells AS (
  {cell_arms}
),
reg AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
exact AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS exact_freq FROM o GROUP BY 1),
ph AS (SELECT pair, {_h64("pair")} % {CMS_PRIME} AS h FROM exact),
pcells AS (
  {cell_arms.replace("FROM hx", "FROM ph")}
),
est AS (
  SELECT pc.pair, MIN(COALESCE(r.cnt, 0)) AS cms_est
  FROM pcells pc LEFT JOIN reg r USING (row, col)
  GROUP BY pc.pair
)
SELECT e.pair, x.exact_freq, e.cms_est,
       e.cms_est - x.exact_freq AS overcount,
       th.th AS threshold,
       x.exact_freq >= th.th AS is_true_hitter
FROM est e JOIN exact x USING (pair), th
WHERE e.cms_est >= th.th
"""


GBK_K = 256
GBK_QS = (0.5, 0.9)


def event_type_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP unbounded-domain quantiles via grouped bottom-k (KMV)
    samples — the per-segment complement of
    ``event_value_bottomk_quantiles`` (global) and
    ``event_type_quantile_sketch`` (fixed-bin, needs declared [lo, hi)):
    per event type, the k smallest md5-hashed event ids form a
    deterministic uniform sample, built INCREMENTALLY (each corpus half
    samples independently, ``bottomk_merge`` re-cuts per group without
    rescanning either half), and p50/p90 come off the merged sample.
    Exact per-group percentiles ride alongside to grade the estimator;
    the whole report hash-verifies (sample membership is a pure
    function of the keys)."""
    from gdutils_spark.operators.sketches import (
        bottomk_merge,
        bottomk_quantiles,
        bottomk_sample,
    )

    # NaN-and-NULL-free measure policy (see event_value_quantile_sketch)
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    sa = bottomk_sample(
        e.where(F.col("event_id") % 2 == 0),
        "event_id",
        "value",
        GBK_K,
        group_col="event_type",
    )
    sb = bottomk_sample(
        e.where(F.col("event_id") % 2 == 1),
        "event_id",
        "value",
        GBK_K,
        group_col="event_type",
    )
    ests = bottomk_quantiles(bottomk_merge(sa, sb, GBK_K), list(GBK_QS))
    exact = (
        e.where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.percentile(F.col("value"), F.lit(GBK_QS[0])).alias("_e0"),
            F.percentile(F.col("value"), F.lit(GBK_QS[1])).alias("_e1"),
        )
    )
    exact_col = (
        F.when(F.col("q") == GBK_QS[0], F.col("_e0")).otherwise(F.col("_e1"))
    )
    return ests.join(exact, "grp").select(
        F.col("grp").alias("event_type"),
        "q",
        "est",
        exact_col.alias("exact_q"),
        F.abs(F.col("est") - exact_col).alias("abs_err"),
    )


def _grouped_bottomk_sql() -> str:
    hk = _h64("CAST(event_id AS VARCHAR)")
    cut = (
        "SELECT grp, hk, val FROM ("
        "SELECT grp, hk, val, ROW_NUMBER() OVER "
        "(PARTITION BY grp ORDER BY hk, val) AS rn FROM {src}) "
        f"WHERE rn <= {GBK_K}"
    )
    arm = lambda q: (
        f"SELECT grp, CAST({q} AS DOUBLE) AS q, "
        f"quantile_cont(val, {q}) AS est FROM m GROUP BY grp"
    )
    return f"""
WITH vals AS (
  SELECT event_id, event_type AS grp, CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
    AND event_type IS NOT NULL
),
ha AS (SELECT grp, {hk} AS hk, v AS val FROM vals WHERE event_id % 2 = 0),
hb AS (SELECT grp, {hk} AS hk, v AS val FROM vals WHERE event_id % 2 = 1),
sa AS ({cut.format(src="ha")}),
sb AS ({cut.format(src="hb")}),
u AS (SELECT * FROM sa UNION ALL SELECT * FROM sb),
m AS ({cut.format(src="u")}),
ests AS (
  {arm(GBK_QS[0])}
  UNION ALL
  {arm(GBK_QS[1])}
),
exact AS (
  -- deliberately NOT vals: the Spark side's exact aggregate filters
  -- only value/event_type, so a NULL-event_id row (excluded from the
  -- sample by the key rule) still counts toward the exact percentile —
  -- the same convention as the global twin (_bottomk_quantiles_sql)
  SELECT event_type AS grp,
         quantile_cont(CAST(value AS DOUBLE), {GBK_QS[0]}) AS e0,
         quantile_cont(CAST(value AS DOUBLE), {GBK_QS[1]}) AS e1
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
  GROUP BY 1
)
SELECT e.grp AS event_type, q, est,
       CASE WHEN q = CAST({GBK_QS[0]} AS DOUBLE) THEN e0 ELSE e1 END AS exact_q,
       abs(est - CASE WHEN q = CAST({GBK_QS[0]} AS DOUBLE) THEN e0
                      ELSE e1 END) AS abs_err
FROM ests e JOIN exact USING (grp)
"""


PR_INCR_ITERS = 2  # yesterday's budget; the restart adds ONE catch-up pass
PR_INCR_MOD = 10  # delta batch = orders with orderkey ≡ 0 (mod 10)


def part_copurchase_pagerank_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL graph maintenance driver-verified — the nightly-
    ingest story the dedup/sketch families already have, for the graph
    family: co-occurrence EDGE WEIGHTS are additive counters, so the
    delta batch's weight table merges into yesterday's by a plain
    groupBy-sum (``hll_merge``/``cms_merge`` shape — yesterday's
    lineitem is never rescanned at merge time), and PageRank RESTARTS
    from yesterday's converged ranks (``start_ranks=``) for ONE
    catch-up iteration over the merged graph instead of re-running the
    full budget — power iteration contracts from any start, and a
    near-converged seed is near the new fixed point when the delta is
    small. New nodes enter at uniform 1/N over the merged node set.
    The oracle replays the whole fixed chain (base iterations + merge +
    restart iteration) as CTEs, so every rank double is bit-exact.
    Top 50 parts, fully tie-broken."""
    from gdutils_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # edges live entirely within one order, so an orderkey split cleanly
    # partitions edge OCCURRENCES between base and delta — which means
    # ONE batch-tagged self-join builds both batches' weight tables
    # (separate wtable(base)/wtable(delta) builds would run the
    # corpus-sized self-join twice); the tagged table feeds three
    # consumers, so it is checkpoint-pinned (no-subtree-reuse)
    a, b = li.alias("a"), li.alias("b")
    tagged = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")),
        )
        .select(
            F.col("a.p").alias("src"),
            F.col("b.p").alias("dst"),
            (F.col("a.o") % PR_INCR_MOD == 0).alias("is_delta"),
        )
        .groupBy("src", "dst", "is_delta")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    wb = tagged.where(~F.col("is_delta")).select("src", "dst", "w")
    wd = tagged.where(F.col("is_delta")).select("src", "dst", "w")
    merged = (
        wb.unionByName(wd).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    )
    # validate=False throughout: both weight tables come from our own
    # groupBy counts (no NULLs/dups by construction)
    base_pr = pagerank(
        wb, damping=PR_DAMPING, n_iters=PR_INCR_ITERS, weight="w",
        validate=False,
    )
    pr = pagerank(
        merged, damping=PR_DAMPING, n_iters=1, weight="w",
        validate=False, start_ranks=base_pr,
    )
    # top-k via orderBy+limit: TakeOrderedAndProject (per-partition
    # top-k + one tiny merge) — identical rows to the former global
    # row_number window (the (pr desc, node) order is total), but the
    # node-sized rank table never funnels through one partition
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node"))
        .limit(PR_TOP)
        .select(F.col("node").alias("part"), "pr")
    )


def _pagerank_incr_sql() -> str:
    def wtable(name: str, pred: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
  WHERE {pred} GROUP BY a.p, b.p)"""

    ctes = [
        "li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        wtable("edb", f"a.o % {PR_INCR_MOD} <> 0"),
        "degb AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edb GROUP BY 1)",
        "nodesb AS (SELECT DISTINCT src AS node FROM edb)",
        "nnb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodesb)",
        """prb0 AS (SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS pr
        FROM nodesb, nnb)""",
    ]
    for i in range(1, PR_INCR_ITERS + 1):
        ctes += _pr_iteration_ctes(
            i, f"prb{i - 1}", f"prb{i}",
            ed="edb", deg="degb", nodes="nodesb", nn="nnb", weighted=True,
        )
    ctes += [
        # merged weights computed directly from the full corpus — equal
        # to the half-table sum because co-occurrence counts are
        # additive over the orderkey split (the merge-losslessness
        # claim, checked by the hash)
        wtable("edm", "TRUE"),
        "degm AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edm GROUP BY 1)",
        "nodesm AS (SELECT DISTINCT src AS node FROM edm)",
        "nnm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodesm)",
        f"""seed AS (
  SELECT nd.node, COALESCE(p.pr, CAST(1.0 AS DOUBLE) / CAST(nnm.n AS DOUBLE)) AS pr
  FROM nodesm nd LEFT JOIN prb{PR_INCR_ITERS} p USING (node), nnm)""",
    ]
    ctes += _pr_iteration_ctes(
        PR_INCR_ITERS + 1, "seed", "prm",
        ed="edm", deg="degm", nodes="nodesm", nn="nnm", weighted=True,
    )
    body = ",\n".join(ctes)
    return f"WITH {body}" + _pr_top_sql("prm")


LPA_INCR_ITERS = 2  # yesterday's budget; the restart adds ONE catch-up round


def part_copurchase_triangles_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL exact triangle maintenance — no graph surface left
    batch-only: base counts stay valid for all-old triangles, and only
    triangles containing a NEW edge are enumerated, by anchoring the
    degree-ordered wedge generation on the delta
    (:func:`~gdutils_spark.operators.graph.triangle_count_incremental`:
    |delta|-anchored wedge joins + one linear re-orientation pass,
    never the O(m^{3/2}) enumeration). The oracle computes the FULL
    merged-graph report directly — incremental == rebuild is the
    hash-checked claim (the differential twin is bit-exact in
    tests/test_graph.py). Universe: even part keys (the
    doc_incremental_dup_clusters convention — this entry simulates
    BOTH nights, so it pays base + incremental in one bench row);
    delta = orders with orderkey ≡ 0 (mod ``PR_INCR_MOD``). Top
    ``TRI_TOP`` parts, fully tie-broken."""
    from gdutils_spark.operators.graph import (
        triangle_count,
        triangle_count_incremental,
    )

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 2 == 0
    ).select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    a, b = li.alias("a"), li.alias("b")
    tagged = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .select(
            F.col("a.p").alias("src"),
            F.col("b.p").alias("dst"),
            (F.col("a.o") % PR_INCR_MOD == 0).alias("is_delta"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    eb = tagged.where(~F.col("is_delta")).select("src", "dst")
    dl = tagged.where(F.col("is_delta")).select("src", "dst")
    base = triangle_count(eb)
    tri = triangle_count_incremental(base, eb, dl)
    return (
        tri.orderBy(F.col("n_triangles").desc(), F.col("node"))
        .limit(TRI_TOP)
        .select(F.col("node").alias("part"), "degree", "n_triangles", "lcc")
    )


def part_copurchase_communities_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL community maintenance — the fourth graph surface to
    get a nightly-ingest form (PageRank warm-starts, CC
    star-contracts, sketches merge): the co-purchase DISTINCT edge set
    decomposes losslessly over an orderkey split (distinct-of-union ==
    union-of-distincts), so tonight's delta edges union into
    yesterday's set and label propagation RESEEDS from yesterday's
    converged labels (``start_labels=``) for ONE catch-up round instead
    of the full budget — settled communities re-adopt their label
    immediately, so the work concentrates where the delta touched. New
    nodes seed with their own id via the node-sized left join. The
    oracle replays the whole fixed chain (base rounds + union + seeded
    round) as CTEs; all-integer labels/counts, no float surface.
    Universe: even part keys (the triangles-incremental / dup-clusters
    convention — this entry simulates BOTH nights, so it pays base LPA
    + the seeded round in one bench row)."""
    from gdutils_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 2 == 0
    ).select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    # ONE batch-tagged self-join builds both halves' edge sets (the
    # part_copurchase_pagerank_incremental convention); pinned — it
    # feeds the base rounds and the merged round
    a, b = li.alias("a"), li.alias("b")
    tagged = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")),
        )
        .select(
            F.col("a.p").alias("src"),
            F.col("b.p").alias("dst"),
            (F.col("a.o") % PR_INCR_MOD == 0).alias("is_delta"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    eb = tagged.where(~F.col("is_delta")).select("src", "dst")
    em = tagged.select("src", "dst").distinct()
    base_lab = label_propagation(eb, n_iters=LPA_INCR_ITERS)
    # validate=False: the seed is this operator's own output (unique
    # node rows by construction)
    lab = label_propagation(
        em, n_iters=1, start_labels=base_lab, validate=False
    )
    return lab.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    )


def _lpa_incr_iteration_ctes(i: int, ed: str, prev: str, new: str) -> list:
    """One synchronous LPA round as CTEs — the EXACT operator mirror
    including the no-in-neighbor carry-forward left join (the Spark
    side always applies it; on the both-directions co-purchase graph it
    is a no-op, but the oracle should not rely on that)."""
    return [
        f"""a{i} AS (
  SELECT ed.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {ed} ed JOIN {prev} l ON l.node = ed.src GROUP BY 1, 2)""",
        f"""b{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM a{i}) WHERE rn = 1)""",
        f"""{new} AS MATERIALIZED (
  SELECT l.node, COALESCE(b.label, l.label) AS label
  FROM {prev} l LEFT JOIN b{i} b USING (node))""",
    ]


def _lpa_incr_sql() -> str:
    ctes = [
        "li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem "
        "WHERE l_partkey % 2 = 0)",
        f"""tag AS MATERIALIZED (
  SELECT DISTINCT a.p AS src, b.p AS dst, a.o % {PR_INCR_MOD} = 0 AS is_delta
  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p)""",
        "edb AS MATERIALIZED (SELECT DISTINCT src, dst FROM tag WHERE NOT is_delta)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edb)",
    ]
    for i in range(1, LPA_INCR_ITERS + 1):
        ctes += _lpa_incr_iteration_ctes(i, "edb", f"l{i - 1}", f"l{i}")
    ctes += [
        "edm AS MATERIALIZED (SELECT DISTINCT src, dst FROM tag)",
        "nodesm AS (SELECT DISTINCT src AS node FROM edm)",
        f"""seed AS MATERIALIZED (
  SELECT nd.node, COALESCE(p.label, nd.node) AS label
  FROM nodesm nd LEFT JOIN l{LPA_INCR_ITERS} p USING (node))""",
    ]
    ctes += _lpa_incr_iteration_ctes(
        LPA_INCR_ITERS + 1, "edm", "seed", "lm"
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT node AS part, label AS community FROM lm
"""


def doc_incremental_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup clustering — completing the nightly-ingest
    chain that ``doc_incremental_dedup`` starts: last night's clusters
    (connected components of the corpus' verified LSH pairs) merge with
    tonight's pairs (batch-internal + batch-vs-corpus from
    ``minhash_lsh_pairs_between``) WITHOUT rescanning last night's edge
    list — yesterday's labeling re-enters as node-sized star edges
    (``connected_components_incremental``). Because a MinHash signature
    depends only on a document's own shingles, the pair decomposition is
    exact (within-corpus ∪ within-batch ∪ between == full-corpus pairs),
    so the oracle computes the FULL-corpus clustering directly — the
    merge's losslessness is itself the hash-checked claim, the
    ``hll_merge``/``cms_merge`` convention.

    The universe is the even-doc half of the corpus (signatures are
    per-document, so this equals filtering the full pair set to
    even×even — encoded exactly that way in the oracle): the query
    simulates BOTH nights (base clustering + delta merge), and the
    full corpus would pay the whole LSH machinery three times in one
    bench entry."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    kw = dict(num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T)
    # r14 (guide §2.4): this composition runs THREE pair pipelines —
    # corpus self-join, batch self-join, batch-vs-corpus — and each
    # relation's shingle explode (window sort + distinct) used to be
    # recomputed per pipeline. Pin each relation's shingle table once
    # and share it; rows are identical (the pinned table IS what each
    # pipeline would have built).
    corp_sh = dd._shingle_table(corpus, "text", "doc_id", NGRAM_K).localCheckpoint(
        eager=False
    )
    new_sh = dd._shingle_table(new, "text", "doc_id", NGRAM_K).localCheckpoint(
        eager=False
    )
    base_pairs = dd.minhash_lsh_pairs(corpus, **kw, _shingles=corp_sh)
    seed = dd.connected_components(base_pairs, src="d1", dst="d2")
    delta = (
        dd.minhash_lsh_pairs_between(
            new, corpus, **kw, _new_shingles=new_sh, _corpus_shingles=corp_sh
        )
        .select(F.col("new_id").alias("d1"), F.col("corpus_id").alias("d2"))
        .unionByName(
            dd.minhash_lsh_pairs(new, **kw, _shingles=new_sh).select("d1", "d2")
        )
    )
    labels = dd.connected_components_incremental(
        delta, seed, src="d1", dst="d2"
    )
    return labels.select(
        F.col("node").alias("doc"), F.col("comp").alias("component")
    )


WSG_K = 16


def doc_weighted_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP weighted sampling: k token-count-weighted documents per
    language (``priority_sample(group_col=)``) — the per-stratum QUOTA
    the mixture builders want where ``stratified_sample`` keeps a rate:
    low-resource languages still yield their k docs, long documents win
    within each language. Same no-RNG priorities, hash-verified."""
    from gdutils_spark.operators.sampling import priority_sample
    from gdutils_spark.operators.text import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    weighted = d.select(
        "doc_id",
        "lang",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    s = priority_sample(weighted, "doc_id", "n_tokens", WSG_K, group_col="lang")
    return s.select(
        F.col("grp").alias("lang"),
        F.col("id").alias("doc_id"),
        F.col("weight").alias("n_tokens"),
        "priority",
    )


def _weighted_sample_by_lang_sql() -> str:
    h = _h64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
p AS (
  SELECT lang, doc_id, n_tokens,
         (CAST({h} AS DOUBLE) / CAST({1 << 60} AS DOUBLE))
           / CAST(n_tokens AS DOUBLE) AS priority
  FROM w WHERE doc_id IS NOT NULL AND n_tokens > 0 AND lang IS NOT NULL
)
SELECT lang, doc_id, n_tokens, priority FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rn
  FROM p
) WHERE rn <= {WSG_K}
"""


WS_K = 64


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement (priority
    sampling, Duffield–Lund–Thorup) driver-verified: documents are kept
    with odds scaling with their token count — the "sample long/high-
    quality docs more" primitive under mixture building — via the k
    smallest ``md5-frac(id)/weight`` priorities. No RNG anywhere: the
    sample is reproducible cross-engine (hash-verified), incrementally
    stable, and mergeable (bottom-k by priority). Plan shape: one map +
    TakeOrderedAndProject."""
    from gdutils_spark.operators.sampling import priority_sample
    from gdutils_spark.operators.text import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    # cast to long here: the operator passes the weight through with its
    # original type, and the oracle emits BIGINT
    weighted = d.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return priority_sample(weighted, "doc_id", "n_tokens", WS_K).select(
        F.col("id").alias("doc_id"),
        F.col("weight").alias("n_tokens"),
        "priority",
    )


def _weighted_sample_sql() -> str:
    h = _h64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
p AS (
  SELECT doc_id, n_tokens,
         (CAST({h} AS DOUBLE) / CAST({1 << 60} AS DOUBLE))
           / CAST(n_tokens AS DOUBLE) AS priority
  FROM w WHERE doc_id IS NOT NULL AND n_tokens > 0
)
SELECT doc_id, n_tokens, priority FROM p ORDER BY priority, doc_id LIMIT {WS_K}
"""


DSM_K = 32


def doc_sample_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-sample MERGE over OVERLAPPING populations, driver-
    verified: two k-samples drawn from corpus slices that share a third
    of the documents (doc_id%3 != 0 and != 1 — both contain the %3==2
    docs) merge into exactly the whole-corpus k-sample. This is the
    bottom-k lemma PLUS the idempotence guarantee: a doc sampled by
    both sides is a bit-identical row (priorities are pure functions of
    id/weight) that must collapse to one slot — without the distinct a
    duplicate occupies two of the k slots and the merged sample
    diverges from the whole-corpus oracle."""
    from gdutils_spark.operators.sampling import (
        priority_sample,
        priority_sample_merge,
    )
    from gdutils_spark.operators.text import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    weighted = d.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    a = priority_sample(
        weighted.where(F.col("doc_id") % 3 != 0), "doc_id", "n_tokens", DSM_K
    )
    b = priority_sample(
        weighted.where(F.col("doc_id") % 3 != 1), "doc_id", "n_tokens", DSM_K
    )
    return priority_sample_merge(a, b, DSM_K).select(
        F.col("id").alias("doc_id"),
        F.col("weight").alias("n_tokens"),
        "priority",
    )


def _sample_merged_sql() -> str:
    # the lemma makes the merged sample EQUAL the whole-corpus bottom-k
    # (both slice populations union to the full corpus), so the oracle
    # is the whole-corpus priority sample — any dedup or cut defect in
    # the merge shows up as a displaced row
    h = _h64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
p AS (
  SELECT doc_id, n_tokens,
         (CAST({h} AS DOUBLE) / CAST({1 << 60} AS DOUBLE))
           / CAST(n_tokens AS DOUBLE) AS priority
  FROM w WHERE doc_id IS NOT NULL AND n_tokens > 0
)
SELECT doc_id, n_tokens, priority FROM p ORDER BY priority, doc_id LIMIT {DSM_K}
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit (r10)
# ---------------------------------------------------------------------------

#: (fk_name, child_table, child_key, parent_table, parent_key) over the
#: testdata TPC-H-ish FK graph.
_FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the full testdata FK graph —
    the "can I trust the joins" load gate (one row per FK edge with
    orphan counts/rates; ``operators/summaries.fk_audit``)."""
    from gdutils_spark.operators.summaries import fk_audit

    tabs: dict[str, DataFrame] = {}

    def t(name: str) -> DataFrame:
        if name not in tabs:
            tabs[name] = load_table(spark, sf_dir, name)
        return tabs[name]

    return fk_audit(
        [(n, t(c), ck, t(p), pk) for n, c, ck, p, pk in _FK_EDGES]
    )


def _fk_audit_sql() -> str:
    parts = []
    for name, child, ckey, parent, pkey in _FK_EDGES:
        parts.append(f"""
  SELECT '{name}' AS fk_name,
         COUNT(*) AS n_rows,
         COALESCE(CAST(SUM(CASE WHEN c.{ckey} IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_null_keys,
         COALESCE(CAST(SUM(CASE WHEN c.{ckey} IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_orphans
  FROM {child} c
  LEFT JOIN (SELECT DISTINCT {pkey} AS __pk FROM {parent}) p ON c.{ckey} = p.__pk""")
    union = "\n  UNION ALL\n".join(parts)
    # COALESCE / CASE: an EMPTY child table audits as clean (0/0/0,
    # rate 0.0) on BOTH engines — the operator's documented semantics
    # (summaries.py fk_integrity_audit); bare SUM over zero rows is
    # NULL and 0/0 is NaN (r13 empty-fixture hunt)
    return f"""
SELECT fk_name, n_rows, n_null_keys, n_orphans,
       CASE WHEN n_rows = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE)
       END AS orphan_rate
FROM (
{union}
)
"""


# ---------------------------------------------------------------------------
# Time-series resample + linear interpolation (r10)
# ---------------------------------------------------------------------------

INTERP_STEP_S = 21600  # 6-hour grid: ~120 instants over the 30-day fixture


def user_value_grid_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour regular grid over the events value series with
    linear interpolation (``operators/timeseries.resample_interpolate``)
    — the pandas ``resample().interpolate()`` idiom as one relational
    plan: union obs+grid, one entity shuffle, ordered carry windows."""
    from gdutils_spark.operators.timeseries import resample_interpolate

    e = load_table(spark, sf_dir, "events")
    return resample_interpolate(e, "user_id", "ts", "value", INTERP_STEP_S)


def _grid_interp_sql() -> str:
    step = INTERP_STEP_S * 1_000_000
    return f"""
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS t_us, MAX(value) AS v
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id, epoch_us(ts)
), bounds AS (
  -- ((x % s) + s) % s is pmod: sign-safe floor alignment matching the
  -- engine's F.pmod (plain % misaligns pre-1970 negative epoch micros)
  SELECT user_id,
         (MIN(t_us) + {step - 1})
           - ((((MIN(t_us) + {step - 1}) % {step}) + {step}) % {step}) AS g0,
         MAX(t_us) - (((MAX(t_us) % {step}) + {step}) % {step}) AS g1
  FROM obs GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(g0, g1, {step})) AS t_us
  FROM bounds WHERE g0 <= g1
), u AS (
  SELECT user_id, t_us, 0 AS side, t_us AS ot, v FROM obs
  UNION ALL
  SELECT user_id, t_us, 1 AS side, NULL AS ot, NULL AS v FROM grid
), c AS (
  SELECT user_id, t_us, side,
    last_value(ot IGNORE NULLS) OVER w AS t0,
    last_value(v IGNORE NULLS) OVER w AS v0,
    first_value(ot IGNORE NULLS) OVER w2 AS t1,
    first_value(v IGNORE NULLS) OVER w2 AS v1
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY user_id ORDER BY t_us, side
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, make_timestamp(t_us) AS ts,
  CASE WHEN t_us = t0 THEN v0
       ELSE v0 + (v1 - v0) * (CAST(t_us - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
  END AS v_interp
FROM c
WHERE side = 1 AND t0 IS NOT NULL AND (t1 IS NOT NULL OR t0 = t_us)
"""


# ---------------------------------------------------------------------------
# Per-entity reporting-gap report (r10)
# ---------------------------------------------------------------------------

GAP_THR_S = 43200  # 12 h: ~mean user cadence is ~10 h on the 30-day fixture


def user_event_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feed-health summary over events.ts: gap counts, max gap
    and coverage fraction at a 12 h threshold
    (``timeseries.entity_gap_report``)."""
    from gdutils_spark.operators.timeseries import entity_gap_report

    e = load_table(spark, sf_dir, "events")
    return entity_gap_report(e, "user_id", "ts", GAP_THR_S)


def _gap_report_sql() -> str:
    thr = GAP_THR_S * 1_000_000
    return f"""
WITH base AS (
  SELECT user_id AS e, epoch_us(ts) AS t
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), lagged AS (
  SELECT e, t, t - lag(t) OVER (PARTITION BY e ORDER BY t) AS d FROM base
), agg AS (
  SELECT e,
         COUNT(*) AS n_obs,
         MAX(t) - MIN(t) AS span_us,
         CAST(COALESCE(SUM(CASE WHEN d > {thr} THEN 1 END), 0) AS BIGINT) AS n_gaps,
         COALESCE(MAX(d), 0) AS max_gap_us,
         COALESCE(SUM(CASE WHEN d > {thr} THEN d END), 0) AS lost_us
  FROM lagged GROUP BY e
)
SELECT e AS user_id,
       n_obs,
       CAST(span_us / 1000000 AS DOUBLE) AS span_s,
       n_gaps,
       CAST(max_gap_us / 1000000 AS DOUBLE) AS max_gap_s,
       CASE WHEN span_us = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(1.0 AS DOUBLE)
                 - CAST(lost_us AS DOUBLE) / CAST(span_us AS DOUBLE)
       END AS coverage_frac
FROM agg
"""


# ---------------------------------------------------------------------------
# Rolling-origin backtest folds (r10)
# ---------------------------------------------------------------------------

CV_FOLDS = 5
CV_HORIZON_S = 3 * 86400  # 3-day test windows over the 30-day fixture


def events_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest manifest over events.ts: 5 adjacent 3-day
    test windows ending at the corpus max, per-fold train/test counts
    from ONE bucket histogram (``timeseries.rolling_origin_folds``)."""
    from gdutils_spark.operators.timeseries import rolling_origin_folds

    e = load_table(spark, sf_dir, "events")
    return rolling_origin_folds(e, "ts", CV_FOLDS, CV_HORIZON_S)


def _cv_folds_sql() -> str:
    n = CV_FOLDS
    h = CV_HORIZON_S * 1_000_000
    return f"""
WITH b AS (
  SELECT MAX(epoch_us(ts)) AS t1 FROM events WHERE ts IS NOT NULL
), base AS (
  SELECT epoch_us(ts) AS t FROM events WHERE ts IS NOT NULL
), hist AS (
  SELECT CASE WHEN t - (t1 - {n} * {h}) <= 0 THEN -1
              ELSE CAST((t - (t1 - {n} * {h}) + {h - 1}) // {h} AS INT) - 1
         END AS bk,
         COUNT(*) AS nn
  FROM base, b GROUP BY 1
), spine AS (
  SELECT CAST(unnest(generate_series(1, {n})) AS INT) AS fold
), j AS (
  SELECT s.fold, COALESCE(hh.nn, 0) AS n_test
  FROM spine s LEFT JOIN hist hh ON hh.bk = s.fold - 1
), pre AS (
  SELECT COALESCE(SUM(nn), 0) AS pre_n FROM hist WHERE bk = -1
)
SELECT j.fold AS fold,
       make_timestamp(t1 - ({n} - j.fold + 1) * {h}) AS train_end,
       make_timestamp(t1 - ({n} - j.fold) * {h}) AS test_end,
       CAST(pre_n + COALESCE(SUM(n_test) OVER (ORDER BY j.fold
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS n_train,
       CAST(n_test AS BIGINT) AS n_test
FROM j, b, pre
"""


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (r10)
# ---------------------------------------------------------------------------

MIND_N = 500       # fixture subset: bounded, sf-independent pair count
MIND_HAM = 16      # Hamming radius over the 64-bit dHash


def mm_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs end-to-end through REAL codecs:
    documents doc_id < 500 become 9x8 grayscale PNGs (pixel
    ``((x*31 + y*17)*(doc_id%50 + 3) + 128·[x = doc_id%9]) % 256`` —
    50 gradient clusters with one perturbed column per image), encoded
    with the stdlib PNG writer, decoded + dHashed by ``image_dhash``,
    then paired by ``dhash_near_dup_pairs`` (16-bit-band Hamming LSH +
    exact popcount <= 16). The oracle predicts every hash bit
    arithmetically from doc_id, so a broken decode, sample-lattice,
    bit-packing or banding step hash-mismatches immediately."""
    from gdutils_spark.operators.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < MIND_N)
    )

    def synth(batches):
        import struct
        import zlib

        import pandas as pd

        def chunk(t, data):
            crc = zlib.crc32(t + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + t + data + struct.pack(">I", crc)

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 9, 8
                raw = bytearray()
                for y in range(h):
                    raw.append(0)  # filter-0 scanlines
                    raw += bytes(
                        ((x * 31 + y * 17) * (did % 50 + 3)
                         + (128 if x == did % 9 else 0)) % 256
                        for x in range(w)
                    )
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b"")
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": payloads,
                    "format": "png",
                    "kind": "image",
                }
            )

    media = d.mapInPandas(
        synth, "media_id long, payload binary, format string, kind string"
    )
    return dhash_near_dup_pairs(image_dhash(media), MIND_HAM)


def _image_near_dup_sql() -> str:
    def px(x_expr: str, y: int) -> str:
        return (
            f"((({x_expr})*31 + {y * 17}) * ((media_id % 50) + 3) + "
            f"CASE WHEN ({x_expr}) = (media_id % 9) THEN 128 ELSE 0 END) % 256"
        )

    band_exprs = []
    for i in range(4):
        terms = []
        for k in range(16 * i, 16 * (i + 1)):
            x, y = k // 8, k % 8
            terms.append(
                f"CASE WHEN ({px(str(x + 1), y)}) > ({px(str(x), y)}) "
                f"THEN {1 << (k % 16)} ELSE 0 END"
            )
        band_exprs.append(f"CAST({' + '.join(terms)} AS INT) AS b{i}")
    bands = ",\n         ".join(band_exprs)
    ham = " + ".join(f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(4))
    return f"""
WITH h AS (
  SELECT doc_id AS media_id,
         {bands}
  FROM documents WHERE doc_id < {MIND_N}
)
SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
       CAST({ham} AS INT) AS hamming
FROM h a JOIN h b
  ON a.media_id < b.media_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE ({ham}) <= {MIND_HAM}
"""


# ---------------------------------------------------------------------------
# Round-11 additions (capped at 4 per VERDICT r10 task #3; placed AFTER
# the 50-slot driver window like the late-r10 set — they get driver rows
# in r12 and are locally driven through tools/drive_contract.py now):
# entity-resolution fuzzy join, snapshot diff/reconciliation, per-edge
# neighborhood Jaccard (tie strength), winsorized robust means.
# ---------------------------------------------------------------------------

FUZZY_THRESHOLD = 0.3   # Customer#X vs Supplier#X share 1 of 3 tokens
FUZZY_MAX_TOKEN_FREQ = 50  # "customer"/"supplier" are corpus-wide → blocked


def customer_supplier_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution across tables (``operators/linkage
    .fuzzy_blocked_join``): customer and supplier display names match
    when their token-set Jaccard >= 0.3 — the shared serial-number
    token carries the match while the corpus-wide "customer"/
    "supplier" tokens are blocked from candidate generation by the
    ``max_token_freq`` guard (scores stay exact: verification recounts
    over FULL token sets)."""
    from gdutils_spark.operators.linkage import fuzzy_blocked_join

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return fuzzy_blocked_join(
        c,
        s,
        "c_custkey",
        "c_name",
        "s_suppkey",
        "s_name",
        threshold=FUZZY_THRESHOLD,
        max_token_freq=FUZZY_MAX_TOKEN_FREQ,
    ).select(
        F.col("a_id").alias("custkey"),
        F.col("b_id").alias("suppkey"),
        "n_common",
        "na",
        "nb",
        "jaccard",
    )


def _fuzzy_match_sql() -> str:
    return f"""
WITH ta AS (
  SELECT DISTINCT c_custkey AS a_id, t AS token FROM (
    SELECT c_custkey,
           unnest(regexp_split_to_array(lower(c_name), '[^a-z0-9]+')) AS t
    FROM customer WHERE c_custkey IS NOT NULL)
  WHERE t <> ''
), tb AS (
  SELECT DISTINCT s_suppkey AS b_id, t AS token FROM (
    SELECT s_suppkey,
           unnest(regexp_split_to_array(lower(s_name), '[^a-z0-9]+')) AS t
    FROM supplier WHERE s_suppkey IS NOT NULL)
  WHERE t <> ''
), sa AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS na FROM ta GROUP BY a_id),
sb AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS nb FROM tb GROUP BY b_id),
hot AS (
  SELECT token FROM (
    SELECT token, MAX(f) AS f FROM (
      SELECT token, COUNT(*) AS f FROM ta GROUP BY token
      UNION ALL
      SELECT token, COUNT(*) AS f FROM tb GROUP BY token) GROUP BY token)
  WHERE f > {FUZZY_MAX_TOKEN_FREQ}
), ca AS (SELECT * FROM ta WHERE token NOT IN (SELECT token FROM hot)),
cb AS (SELECT * FROM tb WHERE token NOT IN (SELECT token FROM hot)),
cands AS (SELECT DISTINCT a_id, b_id FROM ca JOIN cb USING (token)),
com AS (
  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cands c
  JOIN ta ON ta.a_id = c.a_id
  JOIN tb ON tb.b_id = c.b_id AND tb.token = ta.token
  GROUP BY c.a_id, c.b_id
)
SELECT com.a_id AS custkey, com.b_id AS suppkey, n_common, na, nb,
       CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM com JOIN sa ON sa.a_id = com.a_id JOIN sb ON sb.b_id = com.b_id
WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE)
      >= {FUZZY_THRESHOLD}
"""


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (``operators/cdc.snapshot_diff``): two
    deterministic versions of the orders table — "old" misses keys
    ``%10 == 3`` (read as added), "new" misses ``%10 == 7`` (removed)
    and perturbs o_totalprice on ``%10 == 0`` / o_orderstatus on
    ``%10 == 5`` (changed, with the differing-column list) — one full
    outer key join recovers the exact change batch."""
    from gdutils_spark.operators.cdc import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.where(F.col("o_orderkey") % 10 != 3)
    new = o.where(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") * F.lit(2.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 10 == 5, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


_SNAPSHOT_DIFF_SQL = """
WITH o AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 10 <> 3
), n AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * CAST(2.0 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 10 = 5 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 7
), j AS (
  SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
         o.o_totalprice AS op, n.o_totalprice AS np,
         o.o_orderstatus AS os, n.o_orderstatus AS ns
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
), c AS (
  SELECT COALESCE(nk, ok) AS o_orderkey,
         CASE WHEN ok IS NULL THEN 'added'
              WHEN nk IS NULL THEN 'removed'
              WHEN (os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np)
                   THEN 'changed' END AS change,
         concat_ws(',',
           CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
           CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END
         ) AS diffs
  FROM j
)
SELECT o_orderkey, change,
       CASE WHEN change = 'changed' THEN diffs ELSE '' END AS changed_cols
FROM c WHERE change IS NOT NULL
"""

EDGE_JAC_TOP = 100


def part_copurchase_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge tie strength over the part co-purchase graph
    (``operators/graph.edge_jaccard``): neighborhood Jaccard via the
    degree-ordered triangle enumeration (common neighbors == triangles
    through the edge), top ``EDGE_JAC_TOP`` by (jaccard desc, u, v) —
    a deterministic TakeOrderedAndProject cut."""
    from gdutils_spark.operators.graph import edge_jaccard

    edges = _copurchase_edges(spark, sf_dir, both_directions=False)
    return (
        edge_jaccard(edges)
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(EDGE_JAC_TOP)
    )


def _edge_jaccard_sql() -> str:
    return f"""
WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
eu AS (SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
       FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT u AS node FROM eu UNION ALL SELECT v AS node FROM eu)
        GROUP BY node),
ed AS (SELECT eu.u, eu.v, du.degree AS du, dv.degree AS dv
       FROM eu JOIN deg du ON eu.u = du.node JOIN deg dv ON eu.v = dv.node),
o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS db
      FROM ed),
w AS (SELECT o1.a AS c, o1.b AS x, o2.b AS y
      FROM o o1 JOIN o o2 ON o1.a = o2.a
       AND (o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b))),
t AS (SELECT c, x, y FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.x AND o.b = w.y)),
te AS (SELECT least(c, x) AS u, greatest(c, x) AS v FROM t
       UNION ALL SELECT least(c, y), greatest(c, y) FROM t
       UNION ALL SELECT least(x, y), greatest(x, y) FROM t),
com AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common FROM te GROUP BY u, v),
fin AS (
  SELECT ed.u, ed.v, ed.du, ed.dv,
         COALESCE(com.n_common, CAST(0 AS BIGINT)) AS n_common
  FROM ed LEFT JOIN com ON ed.u = com.u AND ed.v = com.v
)
SELECT u, v, du, dv, n_common,
       CASE WHEN du + dv - 2 - n_common > 0
            THEN CAST(n_common AS DOUBLE)
                 / CAST(du + dv - 2 - n_common AS DOUBLE)
            ELSE CAST('0.0' AS DOUBLE) END AS jaccard
FROM fin
ORDER BY jaccard DESC, u, v
LIMIT {EDGE_JAC_TOP}
"""

WINSOR_LO = 0.05
WINSOR_HI = 0.95


def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean at the 5/95 percentiles
    (``operators/summaries.winsorized_summary``): tails clamp to the
    quantiles before averaging — the robust mean that still counts
    every observation. The mean assembles from three exact terms in a
    pinned IEEE order (decimal-routed mid-sum + n_below·p_lo +
    n_above·p_hi), so the relation hash-verifies cross-engine."""
    from gdutils_spark.operators.summaries import winsorized_summary

    e = load_table(spark, sf_dir, "events")
    return winsorized_summary(e, "event_type", "value", WINSOR_LO, WINSOR_HI)


def _winsorized_sql() -> str:
    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), pct AS (
  SELECT g, quantile_cont(v, {WINSOR_LO}) AS p_lo,
         quantile_cont(v, {WINSOR_HI}) AS p_hi
  FROM base GROUP BY g
), agg AS (
  SELECT b.g, p_lo, p_hi,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN v < p_lo THEN 1 END), 0) AS BIGINT)
           AS n_below,
         CAST(COALESCE(SUM(CASE WHEN v > p_hi THEN 1 END), 0) AS BIGINT)
           AS n_above,
         COALESCE(CAST(SUM(CASE WHEN v >= p_lo AND v <= p_hi
                           THEN CAST(CASE WHEN isnan(v) THEN NULL ELSE v END AS DECIMAL(18,2)) END) AS DOUBLE),
                  CAST(0.0 AS DOUBLE)) AS sum_mid
  FROM base b JOIN pct ON pct.g = b.g
  GROUP BY b.g, p_lo, p_hi
)
SELECT g AS event_type, n, p_lo, p_hi, n_below, n_above,
       ((sum_mid + CAST(n_below AS DOUBLE) * p_lo)
        + CAST(n_above AS DOUBLE) * p_hi) / CAST(n AS DOUBLE)
         AS winsorized_mean
FROM agg
"""


EDIT_PREFIX_LEN = 32
EDIT_MAX_DIST = 2
EDIT_Q = 6  # probe-measured at sf0.1: q=6 halves the positional-join volume vs q=4 (8.7 s vs 13.4 s warm), same 256 pairs; recall guarantee needs max(len) >= q*(k+1) = 18 <= the 32-char prefix


def doc_prefix_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs (``operators/linkage
    .edit_blocked_join``): document pairs whose first-32-char lowered
    prefixes are within Levenshtein distance 2 — the typo/OCR-noise
    twin of the MinHash family (shingle Jaccard misses single-char
    corruption on short spans; edit distance nails it). Positional
    q-gram blocking + Gravano count filter: never a cross join, and on
    this corpus the count bound prunes candidates ~10^4x before the
    exact verify."""
    from gdutils_spark.operators.linkage import edit_blocked_join

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, EDIT_PREFIX_LEN)).alias("prefix")
    )
    return (
        edit_blocked_join(
            d, d, "doc_id", "prefix", "doc_id", "prefix",
            max_dist=EDIT_MAX_DIST, q=EDIT_Q,
        )
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("a_id").alias("a_doc"),
            F.col("b_id").alias("b_doc"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def _edit_pairs_sql() -> str:
    # the oracle is the NAIVE quadratic form (exact by construction);
    # the Spark side must reproduce it through blocking + count filter
    return f"""
WITH d AS (
  SELECT doc_id, lower(substr(text, 1, {EDIT_PREFIX_LEN})) AS p
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
       CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE abs(length(a.p) - length(b.p)) <= {EDIT_MAX_DIST}
  AND levenshtein(a.p, b.p) <= {EDIT_MAX_DIST}
"""


BETWEEN_BATCH_MOD = 10  # every 10th customer is "tonight's ingest"
EDIT_BETWEEN_MOD = 23  # every 23rd document is the edit-join batch


def customer_supplier_match_between(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL entity resolution (``operators/linkage
    .fuzzy_blocked_join_between``): a nightly batch of customers
    (``c_custkey % BETWEEN_BATCH_MOD == 0``) probes the full supplier
    catalog — batch tokens broadcast, corpus consumed map-side, exactly
    the rows the full join would emit (differential-tested in
    tests/test_linkage_and_diff.py)."""
    from gdutils_spark.operators.linkage import fuzzy_blocked_join_between

    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % BETWEEN_BATCH_MOD == 0)
        .select("c_custkey", "c_name")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return fuzzy_blocked_join_between(
        c,
        s,
        "c_custkey",
        "c_name",
        "s_suppkey",
        "s_name",
        threshold=FUZZY_THRESHOLD,
        max_token_freq=FUZZY_MAX_TOKEN_FREQ,
    ).select(
        F.col("batch_id").alias("custkey"),
        F.col("corpus_id").alias("suppkey"),
        "n_common",
        "n_batch",
        "n_corpus",
        "jaccard",
    )


def _fuzzy_between_sql() -> str:
    # between == full join over (batch, corpus) — the oracle is the
    # full-join SQL with the batch filter applied to the customer side
    return f"""
WITH ta AS (
  SELECT DISTINCT c_custkey AS a_id, t AS token FROM (
    SELECT c_custkey,
           unnest(regexp_split_to_array(lower(c_name), '[^a-z0-9]+')) AS t
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_custkey % {BETWEEN_BATCH_MOD} = 0)
  WHERE t <> ''
), tb AS (
  SELECT DISTINCT s_suppkey AS b_id, t AS token FROM (
    SELECT s_suppkey,
           unnest(regexp_split_to_array(lower(s_name), '[^a-z0-9]+')) AS t
    FROM supplier WHERE s_suppkey IS NOT NULL)
  WHERE t <> ''
), sa AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_batch FROM ta GROUP BY a_id),
sb AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_corpus FROM tb GROUP BY b_id),
hot AS (
  SELECT token FROM (
    SELECT token, MAX(f) AS f FROM (
      SELECT token, COUNT(*) AS f FROM ta GROUP BY token
      UNION ALL
      SELECT token, COUNT(*) AS f FROM tb GROUP BY token) GROUP BY token)
  WHERE f > {FUZZY_MAX_TOKEN_FREQ}
), ca AS (SELECT * FROM ta WHERE token NOT IN (SELECT token FROM hot)),
cb AS (SELECT * FROM tb WHERE token NOT IN (SELECT token FROM hot)),
cands AS (SELECT DISTINCT a_id, b_id FROM ca JOIN cb USING (token)),
com AS (
  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cands c
  JOIN ta ON ta.a_id = c.a_id
  JOIN tb ON tb.b_id = c.b_id AND tb.token = ta.token
  GROUP BY c.a_id, c.b_id
)
SELECT com.a_id AS custkey, com.b_id AS suppkey, n_common, n_batch, n_corpus,
       CAST(n_common AS DOUBLE) / CAST(n_batch + n_corpus - n_common AS DOUBLE)
         AS jaccard
FROM com JOIN sa ON sa.a_id = com.a_id JOIN sb ON sb.b_id = com.b_id
WHERE CAST(n_common AS DOUBLE) / CAST(n_batch + n_corpus - n_common AS DOUBLE)
      >= {FUZZY_THRESHOLD}
"""


def doc_prefix_edit_pairs_between(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL edit-distance join (``operators/linkage
    .edit_blocked_join_between``): a document batch (``doc_id %
    EDIT_BETWEEN_MOD == 0``) probes the rest of the corpus for
    first-32-char prefixes within Levenshtein distance 2 — batch grams
    broadcast into the (gram, pos-bucket) candidate join, corpus grams
    consumed map-side, texts scanned once for the exact verify."""
    from gdutils_spark.operators.linkage import edit_blocked_join_between

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.substring("text", 1, EDIT_PREFIX_LEN)).alias("prefix"),
    )
    batch = d.where(F.col("doc_id") % EDIT_BETWEEN_MOD == 0)
    corpus = d.where(F.col("doc_id") % EDIT_BETWEEN_MOD != 0)
    return edit_blocked_join_between(
        batch, corpus, "doc_id", "prefix", "doc_id", "prefix",
        max_dist=EDIT_MAX_DIST, q=EDIT_Q,
    ).select(
        F.col("batch_id").alias("batch_doc"),
        F.col("corpus_id").alias("corpus_doc"),
        F.col("dist").cast("int").alias("dist"),
    )


def _edit_between_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, lower(substr(text, 1, {EDIT_PREFIX_LEN})) AS p
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
       CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist
FROM d a JOIN d b
  ON a.doc_id % {EDIT_BETWEEN_MOD} = 0 AND b.doc_id % {EDIT_BETWEEN_MOD} <> 0
WHERE abs(length(a.p) - length(b.p)) <= {EDIT_MAX_DIST}
  AND levenshtein(a.p, b.p) <= {EDIT_MAX_DIST}
"""


def doc_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation (VERDICT r12 task 7): the existing
    tiers composed into ONE query — exact dedup (fingerprint survivor)
    → MinHash-LSH near-dup drop (pairs → connected components → anti
    join of the loser set) → C4-style quality filter → domain-mix
    sampling → hash-shard manifest, returning per-shard ``(shard,
    n_docs, total_chars, manifest_hash)`` where ``manifest_hash`` is
    md5 over the id-sorted member list — so a single changed survivor
    anywhere upstream flips a hash. Each stage is individually
    oracle-green; the composition catches cross-operator contract
    drift (id/column conventions, NULL policy) that per-operator
    oracles structurally cannot.

    Plan shape at 100 TB: each consumer chain scans the corpus ONCE
    (the exact-dedup survivor is a single fp-keyed min_by aggregate, no
    keeper join-back); the near-dup loser set and the rates table
    BROADCAST into their joins; the fp aggregate and the final manifest
    aggregate are the only corpus-wide shuffles (tests/test_plans.py
    pins scan count and the broadcast joins)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    ).where(F.col("doc_id").isNotNull())
    # stage 1: exact dedup — same survivor rule as exact_duplicates
    # (min doc_id per normalized-text fingerprint, oracle-identical; the
    # operator itself is oracle-checked by doc_exact_dups) expressed as
    # ONE fp-keyed min_by aggregate instead of fp-census + keeper
    # semi-join: one corpus scan per consumer chain rather than two
    fp = F.md5(dd.normalize_text(F.col("text")))
    s1 = (
        docs.groupBy(fp.alias("__fp"))
        .agg(
            F.min_by(
                F.struct("doc_id", "text", "source", "n_chars"),
                F.col("doc_id"),
            ).alias("__r")
        )
        .select("__r.*")
    )
    # stage 2: near-dup drop over the exact-survivors (the
    # doc_near_dup_drop shape: losers are tiny -> broadcast anti)
    pairs = dd.minhash_lsh_pairs(
        s1, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T
    )
    cc = dd.connected_components(pairs, src="d1", dst="d2")
    losers = cc.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    s2 = s1.join(F.broadcast(losers), "doc_id", "left_anti")
    # stage 3: quality filter — text_stats is a pure projection, so the
    # gate is an inline filter on it (keep_cols threads the mix/manifest
    # columns through), NOT a corpus-vs-corpus semi join: s2 keeps ONE
    # consumer and the plan one fewer re-derivation of the whole chain.
    # The table's n_chars (the mix weight) is renamed around the stats
    # column of the same name (text_stats raises on collisions).
    s3 = (
        tx.text_stats(
            s2.withColumnRenamed("n_chars", "__w"),
            keep_cols=("source", "__w"),
        )
        .where(
            (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
            & (F.col("quality_score") > QUALITY_MIN_SCORE)
        )
        .select("doc_id", "source", F.col("__w").alias("n_chars"))
    )
    # stage 4: domain mix — rates are strata-sized and broadcast
    rates = sp.domain_mix_rates(
        s3,
        strata_col="source",
        weight_col="n_chars",
        target_weight=_mix_target_weight(),
        budget_frac=MIX_BUDGET_FRAC,
    )
    s4 = sp.domain_mix_sample(s3, "source", "doc_id", rates)
    # stage 5: shard manifest — md5 over the id-sorted member list
    sharded = sp.shard_assign(s4, "doc_id", N_SHARDS)
    ids_sorted = F.transform(
        F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.md5(F.concat_ws(",", ids_sorted)).alias("manifest_hash"),
    )


def _corpus_pipeline_sql() -> str:
    # each stage's SQL is the per-operator oracle with its input CTE
    # rebound (FROM documents -> FROM s1/s2/s3) — the composition IS
    # the per-stage oracles chained
    pairs_sql = _minhash_lsh_sql().replace("FROM documents", "FROM s1")
    stats_sql = _TEXT_STATS_SQL.replace("FROM documents", "FROM s2")
    mix_sql = _MIX_PER_SQL.replace("FROM documents", "FROM s3")
    shard = f"CAST({_h64('CAST(doc_id AS VARCHAR)')} % {N_SHARDS} AS INT)"
    bucket = f"({_h64('CAST(doc_id AS VARCHAR)')} % {sp.SAMPLE_BUCKETS})"
    return f"""
WITH RECURSIVE
keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
  GROUP BY fp
),
s1 AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
pairs AS ({pairs_sql}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
s2 AS (SELECT * FROM s1
       WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)),
stats AS ({stats_sql}),
s3 AS (SELECT s2.* FROM s2 JOIN stats USING (doc_id)
       WHERE stats.n_tokens >= {QUALITY_MIN_TOKENS}
         AND stats.quality_score > {QUALITY_MIN_SCORE}),
{mix_sql.strip()},
rates AS (
  SELECT stratum,
         CAST(floor({_MIX_RATE_SQL} * 10000.0 + 0.5) AS BIGINT) AS thr
  FROM per, tot
),
s4 AS (SELECT s3.* FROM s3 JOIN rates ON source = stratum
       WHERE {bucket} < thr)
SELECT {shard} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS manifest_hash
FROM s4 GROUP BY 1
"""


INGEST_MOD = 10  # every 10th document is "tonight's ingest batch"

# explicit schemas for the staged-artifact reads: an EMPTY staged corpus
# (first-night bootstrap) writes no parquet part-files, so schema
# inference would fail; the artifact schemas are a fixed contract anyway
_FP_SCHEMA = "__fp string, fp_pfx string"
_BLOOM_SCHEMA = "word bigint, bits bigint"

# hive-partition prefix width for the staged corpus fingerprint set:
# 2 hex chars = 256 partitions, so a nightly probe with P distinct
# bloom-positive prefixes reads P/256 of the fingerprint files
INGEST_FP_PFX_LEN = 2


def stage_ingest_corpus(spark: SparkSession, sf_dir: str, stage_dir: str) -> None:
    """Build the staged corpus artifacts :func:`doc_ingest_pipeline`
    probes (run once per corpus version, re-run when the corpus grows):

    * ``<stage_dir>/corpus_fp`` — the DISTINCT corpus fingerprint set,
      hive-partitioned on a 2-hex-char ``fp_pfx`` so the nightly exact-
      dedup probe partition-prunes to the prefixes its batch actually
      contains (``PartitionFilters``, not a corpus scan);
    * ``<stage_dir>/corpus_fp_bloom`` — a ``sketches.bloom_bits`` word
      table over the same fingerprints: the map-side pre-filter that
      shrinks the probe set (no false negatives, so bloom-negative
      batch fps are admitted without touching ``corpus_fp`` at all);
    * ``<stage_dir>/lsh_banded`` — the corpus banded MinHash signatures
      via :func:`gdutils_spark.operators.dedup.stage_lsh_corpus`
      (parameter sidecar included, validated at probe time).

    These are the pipeline's only corpus-wide jobs — two narrow-
    projection aggregates (fp distinct, signature min-agg) paid once,
    amortized over every nightly run (and grown incrementally by
    :func:`append_ingest_corpus` thereafter)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source", "n_chars")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    stage_corpus_artifacts(docs.where(F.col("doc_id") % INGEST_MOD != 0), stage_dir)


def stage_corpus_artifacts(
    corpus: DataFrame,
    stage_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """DataFrame-level stager behind :func:`stage_ingest_corpus` (same
    three artifacts, any corpus relation)."""
    from gdutils_spark.operators import sketches as sk
    from gdutils_spark.sources.staging import stage_partitioned

    fp = F.md5(dd.normalize_text(F.col(text_col)))
    cfp = (
        corpus.select(fp.alias("__fp"))
        .distinct()
        .withColumn("fp_pfx", F.substring("__fp", 1, INGEST_FP_PFX_LEN))
        # one file per partition dir instead of (tasks × partitions)
        # small files
        .repartition("fp_pfx")
    )
    stage_partitioned(cfp, f"{stage_dir}/corpus_fp", "fp_pfx")
    sk.bloom_bits(corpus.select(fp.alias("__fp")), "__fp").write.mode(
        "overwrite"
    ).parquet(f"{stage_dir}/corpus_fp_bloom")
    dd.stage_lsh_corpus(
        corpus, f"{stage_dir}/lsh_banded",
        text_col=text_col, id_col=id_col,
        num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS,
    )


def append_ingest_corpus(
    spark: SparkSession,
    batch: DataFrame,
    stage_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a night's ADMITTED batch into the staged corpus artifacts IN
    PLACE — append == rebuild (differential-tested, the ``ivfpq_append``
    convention), closing the nightly loop: admit against the artifacts
    (:func:`doc_ingest_pipeline` with ``stage_dir=``), then append the
    admitted docs so tomorrow's run sees tonight's corpus. Batch-sized
    work only — the staged corpus is READ map-side (bloom probe +
    prefix-pruned scan) and never rewritten:

    * ``corpus_fp``: batch fingerprints not already staged are appended
      into their ``fp_pfx`` partition dirs (append-mode partitioned
      write; existing files untouched);
    * ``corpus_fp_bloom``: OR-merge with the batch's bloom
      (:func:`sketches.bloom_merge` — idempotent, so re-probing already
      -present fps is harmless); the word table is sketch-sized (≤
      ``BLOOM_BITS/32`` rows), so the read-merge-rewrite materializes
      through the driver legally;
    * ``lsh_banded``: the batch docs' banded signatures appended — a
      signature depends only on its own shingles, so append == rebuild;
      the ``(num_perms, k, bands)`` sidecar is validated first and a
      missing sidecar RAISES (appending with unknown parameters would
      silently corrupt candidate generation).

    Append each admitted batch ONCE (drive from the admission
    manifest): re-appending duplicates banded rows — candidates stay
    correct (``distinct`` downstream) but the artifact bloats."""
    from gdutils_spark.operators import sketches as sk

    banded_path = f"{stage_dir}/lsh_banded"
    meta_path = os.path.join(banded_path, dd.LSH_META_NAME)
    if not os.path.exists(meta_path):
        raise ValueError(
            f"append_ingest_corpus: {banded_path} has no parameter sidecar "
            "— restage via stage_ingest_corpus before appending"
        )
    dd._validate_staged_lsh(banded_path, NUM_PERMS, NGRAM_K, BANDS)
    b = batch.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    fp = F.md5(dd.normalize_text(F.col(text_col)))
    bfp = (
        b.select(fp.alias("__fp"))
        .distinct()
        .withColumn("fp_pfx", F.substring("__fp", 1, INGEST_FP_PFX_LEN))
    )
    # which batch fps are already staged: bloom pre-filter, then a
    # prefix-pruned map-side semi-join (the doc_ingest_pipeline shape)
    bloom = spark.read.schema(_BLOOM_SCHEMA).parquet(f"{stage_dir}/corpus_fp_bloom")
    probed = sk.bloom_might_contain(bloom, bfp, "__fp")
    maybe = probed.where(F.col("might_contain")).select("__fp").distinct()
    pfx = [
        r["p"]
        for r in maybe.select(
            F.substring("__fp", 1, INGEST_FP_PFX_LEN).alias("p")
        )
        .distinct()
        .collect()
    ]
    if pfx:
        hits = (
            spark.read.schema(_FP_SCHEMA).parquet(f"{stage_dir}/corpus_fp")
            .where(F.col("fp_pfx").isin(pfx))
            .join(F.broadcast(maybe), "__fp", "left_semi")
            .select("__fp")
        )
        new_fps = bfp.join(F.broadcast(hits), "__fp", "left_anti")
    else:
        new_fps = bfp
    # localCheckpoint BEFORE the append: the new-fps plan READS
    # corpus_fp (the hits semi-join) and the write appends files into
    # that same directory — materializing first (batch-sized) severs
    # the lineage so the write can never race its own source listing
    new_fps.localCheckpoint(eager=True).repartition("fp_pfx").write.mode(
        "append"
    ).partitionBy("fp_pfx").parquet(f"{stage_dir}/corpus_fp")
    # bloom: sketch-sized driver materialization, then rewrite (cannot
    # lazily overwrite the path a plan is still reading)
    merged = sk.bloom_merge(bloom, sk.bloom_bits(bfp, "__fp")).collect()
    spark.createDataFrame(merged, bloom.schema).write.mode(
        "overwrite"
    ).parquet(f"{stage_dir}/corpus_fp_bloom")
    # banded signatures: pure append, sidecar unchanged
    dd._banded_signatures(
        dd.minhash_signatures(b, text_col, id_col, NUM_PERMS, NGRAM_K),
        BANDS,
        NUM_PERMS // BANDS,
    ).select(F.col("doc").alias("corpus_id"), "band", "bh").write.mode(
        "append"
    ).parquet(banded_path)


def doc_ingest_pipeline(
    spark: SparkSession, sf_dir: str, stage_dir: str | None = None
) -> DataFrame:
    """NIGHTLY-INGEST composition — the batch-vs-corpus twin of
    :func:`doc_corpus_pipeline`, chaining the *_between tier: a new
    batch (``doc_id % INGEST_MOD == 0``) is admitted against the
    resolved corpus via exact dedup (dropped if its fingerprint exists
    in the corpus OR on an earlier batch doc) → MinHash-LSH near-dup
    drop against the corpus (``dedup.minhash_lsh_pairs_between`` —
    batch signatures broadcast, corpus never self-joined) → quality
    gate (inline text_stats filter). Returns the per-source admission
    report ``(source, n_admitted, total_chars, manifest_hash)`` with
    the hash over the id-sorted admitted list — one flipped admit
    anywhere upstream flips a hash.

    Plan shape at 100 TB — STAGED (``stage_dir=`` pointing at
    :func:`stage_ingest_corpus` artifacts, the real nightly shape;
    differential-tested staged == fresh): batch-sized tables broadcast
    everywhere; the exact-dedup gate is a map-side Bloom probe followed
    by a partition-pruned scan of the staged fingerprint set (only the
    bloom-positive prefixes are read — a bounded ≤256-row driver read
    derives the static ``PartitionFilters``) and a broadcast anti-join;
    the near-dup gate probes the staged banded-signature parquet
    map-side and scans corpus TEXT once, semi-filtered to candidate ids
    before the shingle explode. Zero corpus-wide Exchange
    (plan-pinned); the only aggregates are batch/candidate-bounded.

    FRESH fallback (no ``stage_dir``, what the sf0.01 oracle drives):
    same admission semantics, but the corpus fingerprint set is
    re-derived (a corpus-wide distinct on the fp projection) and corpus
    signatures are re-aggregated per run — narrow-projection shuffles
    that are legal at scale but are exactly what the staged artifacts
    amortize away."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source", "n_chars")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    batch = docs.where(F.col("doc_id") % INGEST_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INGEST_MOD != 0)
    # stage 1: exact dedup vs corpus + batch-internal (min id per fp
    # survives, then the corpus fingerprint set knocks out known text)
    fp = F.md5(dd.normalize_text(F.col("text")))
    winners = (
        batch.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "text", "source", "n_chars"),
                F.col("doc_id"),
            ).alias("__r")
        )
        .select(F.col("__fp"), F.col("__r.*"))
    )
    if stage_dir is not None:
        from gdutils_spark.operators import sketches as sk

        bloom = spark.read.schema(_BLOOM_SCHEMA).parquet(f"{stage_dir}/corpus_fp_bloom")
        # batch-sized, pinned for its three consumers (the eager prefix
        # probe below materializes it; the hits semi-join and the final
        # anti-join reuse it) — lazy localCheckpoint, not cache(): no
        # CacheManager entry to leak into other plans or across repeated
        # timed runs (r14 cache-hygiene sweep)
        probed = sk.bloom_might_contain(bloom, winners, "__fp").localCheckpoint(
            eager=False
        )
        maybe = probed.where(F.col("might_contain")).select("__fp").distinct()
        # bounded driver read (≤ 16^INGEST_FP_PFX_LEN rows): the distinct
        # bloom-positive prefixes become a STATIC partition filter, so
        # the staged fingerprint scan reads only matching directories
        pfx = [
            r["p"]
            for r in maybe.select(
                F.substring("__fp", 1, INGEST_FP_PFX_LEN).alias("p")
            )
            .distinct()
            .collect()
        ]
        if pfx:
            hits = (
                spark.read.schema(_FP_SCHEMA).parquet(f"{stage_dir}/corpus_fp")
                .where(F.col("fp_pfx").isin(pfx))
                .join(F.broadcast(maybe), "__fp", "left_semi")
                .select("__fp")
            )
            s1 = probed.join(F.broadcast(hits), "__fp", "left_anti")
        else:
            # every batch fp is bloom-negative: definitively new, the
            # staged fingerprint set is never touched
            s1 = probed
        s1 = s1.drop("__fp", "might_contain")
    else:
        cfp = corpus.select(fp.alias("__fp")).distinct()
        s1 = winners.join(cfp, "__fp", "left_anti").drop("__fp")
    # stage 2: near-dup admission gate against the corpus
    pairs = dd.minhash_lsh_pairs_between(
        s1, corpus, num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS,
        threshold=JACCARD_T,
        corpus_banded_path=(
            f"{stage_dir}/lsh_banded" if stage_dir is not None else None
        ),
    )
    dropped = pairs.select(F.col("new_id").alias("doc_id")).distinct()
    s2 = s1.join(F.broadcast(dropped), "doc_id", "left_anti")
    # stage 3: quality gate (inline filter on the stats projection)
    s3 = (
        tx.text_stats(
            s2.withColumnRenamed("n_chars", "__w"),
            keep_cols=("source", "__w"),
        )
        .where(
            (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
            & (F.col("quality_score") > QUALITY_MIN_SCORE)
        )
        .select("doc_id", "source", F.col("__w").alias("n_chars"))
    )
    ids_sorted = F.transform(
        F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
    )
    return s3.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_admitted"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.md5(F.concat_ws(",", ids_sorted)).alias("manifest_hash"),
    )


def _ingest_pipeline_sql() -> str:
    # per-stage oracles chained with rebound inputs (the
    # doc_corpus_pipeline convention); the between-minhash oracle reuses
    # _incremental_dedup_sql's %-split side markers, valid because
    # s1 ⊆ (doc_id % MOD = 0) and corpus = (doc_id % MOD <> 0)
    pairs_sql = _incremental_dedup_sql().replace("FROM documents", "FROM pipe")
    stats_sql = _TEXT_STATS_SQL.replace("FROM documents", "FROM s2")
    return f"""
WITH base AS (
  SELECT doc_id, text, source, n_chars FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
batch AS (SELECT * FROM base WHERE doc_id % {INGEST_MOD} = 0),
corpus AS (SELECT * FROM base WHERE doc_id % {INGEST_MOD} <> 0),
bfp AS (SELECT *, md5({_NORM}) AS fp FROM batch),
cfp AS (SELECT DISTINCT md5({_NORM}) AS fp FROM corpus),
winners AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM bfp) WHERE rn = 1
),
s1 AS (SELECT doc_id, text, source, n_chars FROM winners
       WHERE fp NOT IN (SELECT fp FROM cfp)),
pipe AS (SELECT doc_id, text FROM s1
         UNION ALL SELECT doc_id, text FROM corpus),
pairs AS ({pairs_sql}),
s2 AS (SELECT * FROM s1
       WHERE doc_id NOT IN (SELECT new_id FROM pairs)),
stats AS ({stats_sql}),
s3 AS (SELECT s2.doc_id, s2.source, s2.n_chars
       FROM s2 JOIN stats USING (doc_id)
       WHERE stats.n_tokens >= {QUALITY_MIN_TOKENS}
         AND stats.quality_score > {QUALITY_MIN_SCORE})
SELECT source,
       COUNT(*) AS n_admitted,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS manifest_hash
FROM s3 GROUP BY source
"""


def event_type_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of DAILY total value over the day index
    (``operators/summaries.group_trend``): which event types are
    growing/decaying, as one slope per type. Daily totals route through
    decimal; the regression sums are exact scaled-integer longs and the
    slope/intercept assemble in one pinned IEEE order, so the relation
    hash-verifies cross-engine."""
    from gdutils_spark.operators.summaries import group_trend

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    daily = e.groupBy(
        "event_type", F.unix_date(F.to_date("ts")).alias("day_idx")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("daily_value")
    )
    return group_trend(daily, "event_type", "day_idx", "daily_value")


def _value_trend_sql() -> str:
    return """
WITH daily AS (
  SELECT event_type AS g,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
), s AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(CAST(CAST(CASE WHEN isnan(y) THEN NULL ELSE y END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS syc,
         CAST(SUM(x * CAST(CAST(CASE WHEN isnan(y) THEN NULL ELSE y END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS sxyc,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY g
)
SELECT g AS event_type, n,
  CASE WHEN n*sxx - sx*sx <> 0 THEN
    (CAST(n*sxyc - sx*syc AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) / 100.0
  END AS slope,
  CASE WHEN n*sxx - sx*sx <> 0 THEN
    (CAST(syc AS DOUBLE) / 100.0
     - ((CAST(n*sxyc - sx*syc AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        / 100.0) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
  END AS intercept
FROM s
"""


def order_totals_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE report over (priority, status): every subtotal combination
    in ONE pass — physical plan is a single Expand (4x the scan) into
    one aggregate, the Spark-native replacement for four separate
    GROUP BYs (and the CUBE twin of ``rollup_order_totals``).
    ``gid`` disambiguates a grouped-out dimension from a genuine NULL
    value (grouping_id bit per column, Spark == DuckDB bit order)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def _cube_sql() -> str:
    return """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CASE WHEN isnan(o_totalprice) THEN NULL ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
HAVING COUNT(*) > 0
"""
# HAVING: the rollup_order_totals empty-input pin (see queries.py
# _ROLLUP_SQL) — only populated grouping sets are reported; no-op on
# non-empty input.


# --- r14 unicode-curation trio ---------------------------------------------
# Codepoint-class census patterns shared by the Spark query and the
# DuckDB oracle. Every class is a FIXED codepoint range written with
# literal characters, the one regex form Java regex and RE2 parse
# identically (escape syntaxes differ: Java \uXXXX vs RE2 \x{XXXX});
# counts come from the length-difference idiom, and length() counts
# CODEPOINTS in both engines (r14 unicode probe, SCALE.md).
_CLS_ASCII_ALPHA = "[A-Za-z]"
_CLS_ASCII_DIGIT = "[0-9]"
_CLS_CJK = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"
_CLS_NON_ASCII = f"[^{chr(0x01)}-{chr(0x7F)}]"
_CLS_ZERO_WIDTH = f"[{chr(0x200B)}{chr(0x200C)}{chr(0x200D)}{chr(0xFEFF)}]"
_CLS_UNI_SPACE = f"[{chr(0xA0)}{chr(0x2000)}-{chr(0x200A)}{chr(0x3000)}]"


def _cls_count(col, pattern: str):
    """Codepoints of ``col`` matching the single-char class ``pattern``
    (length minus length-after-removal — no explode, stays codegen)."""
    return F.length(col) - F.length(F.regexp_replace(col, pattern, ""))


def doc_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source SCRIPT census for corpus curation (the language/script
    drift report a multilingual 100 TB pipeline watches before mixing):
    codepoint counts by class — ASCII letters, ASCII digits, CJK
    ideographs, any non-ASCII — plus the non-ASCII share. One pruned
    scan, one source-keyed aggregate, everything codegen (the
    length-difference idiom; no explode, no Python)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("source", "text")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    t = F.col("text")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(t)).alias("n_cp"),
        F.sum(_cls_count(t, _CLS_ASCII_ALPHA)).alias("n_ascii_alpha"),
        F.sum(_cls_count(t, _CLS_ASCII_DIGIT)).alias("n_ascii_digit"),
        F.sum(_cls_count(t, _CLS_CJK)).alias("n_cjk"),
        F.sum(_cls_count(t, _CLS_NON_ASCII)).alias("n_non_ascii"),
    )
    share = F.col("n_non_ascii").cast("double") / F.nullif(
        F.col("n_cp"), F.lit(0)
    ).cast("double")
    return agg.select(
        "source", "n_docs", "n_cp", "n_ascii_alpha", "n_ascii_digit",
        "n_cjk", "n_non_ascii", share.alias("non_ascii_share"),
    )


def _script_mix_sql() -> str:
    def cnt(cls: str) -> str:
        return f"length(text) - length(regexp_replace(text, '{cls}', '', 'g'))"

    return f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS n_cp,
       CAST(SUM({cnt(_CLS_ASCII_ALPHA)}) AS BIGINT) AS n_ascii_alpha,
       CAST(SUM({cnt(_CLS_ASCII_DIGIT)}) AS BIGINT) AS n_ascii_digit,
       CAST(SUM({cnt(_CLS_CJK)}) AS BIGINT) AS n_cjk,
       CAST(SUM({cnt(_CLS_NON_ASCII)}) AS BIGINT) AS n_non_ascii,
       CAST(SUM({cnt(_CLS_NON_ASCII)}) AS DOUBLE)
         / CAST(NULLIF(SUM(length(text)), 0) AS DOUBLE) AS non_ascii_share
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
GROUP BY source
"""


def doc_unicode_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source text-hygiene audit — the cleaning report for scraped
    corpora: zero-width characters (ZWSP/ZWNJ/ZWJ/BOM), U+FFFD
    replacement chars (mojibake tell), non-ASCII Unicode whitespace
    (NBSP, en/em spaces, ideographic space) — counts plus how many docs
    carry each. Same single-aggregate length-difference shape as
    :func:`doc_script_mix`."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("source", "text")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    t = F.col("text")
    zw = _cls_count(t, _CLS_ZERO_WIDTH)
    repl = _cls_count(t, chr(0xFFFD))
    us = _cls_count(t, _CLS_UNI_SPACE)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(zw).alias("n_zero_width"),
        F.count(F.when(zw > 0, 1)).alias("docs_with_zero_width"),
        F.sum(repl).alias("n_replacement"),
        F.count(F.when(repl > 0, 1)).alias("docs_with_replacement"),
        F.sum(us).alias("n_unicode_space"),
        F.count(F.when(us > 0, 1)).alias("docs_with_unicode_space"),
    )


def _unicode_hygiene_sql() -> str:
    def cnt(cls: str) -> str:
        return f"length(text) - length(regexp_replace(text, '{cls}', '', 'g'))"

    zw, repl, us = cnt(_CLS_ZERO_WIDTH), cnt(chr(0xFFFD)), cnt(_CLS_UNI_SPACE)
    return f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({zw}) AS BIGINT) AS n_zero_width,
       CAST(COUNT(CASE WHEN {zw} > 0 THEN 1 END) AS BIGINT)
         AS docs_with_zero_width,
       CAST(SUM({repl}) AS BIGINT) AS n_replacement,
       CAST(COUNT(CASE WHEN {repl} > 0 THEN 1 END) AS BIGINT)
         AS docs_with_replacement,
       CAST(SUM({us}) AS BIGINT) AS n_unicode_space,
       CAST(COUNT(CASE WHEN {us} > 0 THEN 1 END) AS BIGINT)
         AS docs_with_unicode_space
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
GROUP BY source
"""


def event_props_typed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-read audit of the JSON props column — the schema-drift
    report behind the r14 ``try_cast`` pin: per event_type, how many
    rows have props, have a ``$.k`` at all, and how many of those parse
    as a number vs carry a non-numeric string (the rows a bare ANSI
    cast would crash the whole scan on). All Catalyst: get_json_object
    + try_cast, one aggregate."""
    e = load_table(spark, sf_dir, "events")
    k_raw = F.get_json_object("props", "$.k")
    k_num = k_raw.try_cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.when(F.col("props").isNotNull(), 1)).alias("n_props"),
        F.count(F.when(k_raw.isNotNull(), 1)).alias("n_with_k"),
        F.count(F.when(k_num.isNotNull(), 1)).alias("n_numeric_k"),
        F.count(F.when(k_raw.isNotNull() & k_num.isNull(), 1)).alias(
            "n_nonnumeric_k"
        ),
    )


_PROPS_TYPED_SQL = """
WITH p AS (
  SELECT event_type, props,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_extract_string(props, '$.k') END AS k_raw
  FROM events
)
SELECT event_type,
       COUNT(CASE WHEN props IS NOT NULL THEN 1 END) AS n_props,
       COUNT(CASE WHEN k_raw IS NOT NULL THEN 1 END) AS n_with_k,
       COUNT(CASE WHEN TRY_CAST(k_raw AS BIGINT) IS NOT NULL THEN 1 END)
         AS n_numeric_k,
       COUNT(CASE WHEN k_raw IS NOT NULL
                   AND TRY_CAST(k_raw AS BIGINT) IS NULL THEN 1 END)
         AS n_nonnumeric_k
FROM p
GROUP BY event_type
"""
# json_valid guard = the r13 junk-props pin (get_json_object returns
# NULL on malformed input, json_extract_string raises)


# ---------------------------------------------------------------------------

EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "fk_integrity_audit": fk_integrity_audit,
    "user_value_grid_interp": user_value_grid_interp,
    "mm_image_near_dup": mm_image_near_dup,
    "events_cv_folds": events_cv_folds,
    "user_event_gap_report": user_event_gap_report,
    "emb_knn_recall": emb_knn_recall,
    "user_cohort_retention": user_cohort_retention,
    "user_funnel": user_funnel,
    "user_funnel_windowed": user_funnel_windowed,
    "doc_dup_cluster_stats": doc_dup_cluster_stats,
    "doc_dedup_recall": doc_dedup_recall,
    "doc_vocab_stats": doc_vocab_stats,
    "doc_length_histogram": doc_length_histogram,
    "doc_text_stats": doc_text_stats,
    "doc_token_counts": doc_token_counts,
    "doc_rolling_fp": doc_rolling_fp,
    "doc_lang_id": doc_lang_id,
    "doc_exact_dups": doc_exact_dups,
    "doc_ngram_dup_pairs": doc_ngram_dup_pairs,
    "doc_containment_pairs": doc_containment_pairs,
    "doc_minhash_lsh_pairs": doc_minhash_lsh_pairs,
    "doc_minhash_estimate": doc_minhash_estimate,
    "doc_simhash": doc_simhash,
    "doc_simhash_near_pairs": doc_simhash_near_pairs,
    "doc_dup_clusters": doc_dup_clusters,
    "doc_quality_filter": doc_quality_filter,
    "doc_near_dup_drop": doc_near_dup_drop,
    "doc_benchmark_contamination": doc_benchmark_contamination,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_chunks": doc_chunks,
    "doc_tfidf_terms": doc_tfidf_terms,
    "emb_quantize": emb_quantize,
    "event_sessions": event_sessions,
    "doc_stratified_sample": doc_stratified_sample,
    "doc_pack_batches": doc_pack_batches,
    "emb_knn_bruteforce": emb_knn_bruteforce,
    "emb_knn_same_label": emb_knn_same_label,
    "event_value_drift": event_value_drift,
    "event_type_value_drift": event_type_value_drift,
    "emb_hard_negatives": emb_hard_negatives,
    "emb_near_dup_pairs": emb_near_dup_pairs,
    "emb_lsh_near_dup_pairs": emb_lsh_near_dup_pairs,
    "emb_lsh_buckets": emb_lsh_buckets,
    "emb_ivf_assign": emb_ivf_assign,
    "emb_ivf_cluster_quality": emb_ivf_cluster_quality,
    "emb_pq_codes": emb_pq_codes,
    "emb_knn_pq": emb_knn_pq,
    "emb_pq_codes_refined": emb_pq_codes_refined,
    "emb_knn_ivfpq": emb_knn_ivfpq,
    "emb_knn_ivfpq_trained": emb_knn_ivfpq_trained,
    "emb_knn_ivfpq_residual": emb_knn_ivfpq_residual,
    "emb_knn_ivfpq_appended": emb_knn_ivfpq_appended,
    "emb_ivfpq_residual_recall": emb_ivfpq_residual_recall,
    "emb_pq_recall": emb_pq_recall,
    "events_hll_users_incremental": events_hll_users_incremental,
    "lineitem_hll_order_overlap": lineitem_hll_order_overlap,
    "part_copurchase_pagerank": part_copurchase_pagerank,
    "part_copurchase_communities": part_copurchase_communities,
    "part_copurchase_triangles": part_copurchase_triangles,
    "lineitem_kmv_part_overlap": lineitem_kmv_part_overlap,
    "event_value_outliers": event_value_outliers,
    "part_basket_rules": part_basket_rules,
    "user_event_transitions": user_event_transitions,
    "nation_supplier_hhi": nation_supplier_hhi,
    "part_copurchase_kcore": part_copurchase_kcore,
    "doc_cosine_pairs": doc_cosine_pairs,
    "part_copurchase_pagerank_weighted": part_copurchase_pagerank_weighted,
    "part_copurchase_pagerank_incremental": part_copurchase_pagerank_incremental,
    "part_copurchase_communities_incremental": part_copurchase_communities_incremental,
    "part_copurchase_triangles_incremental": part_copurchase_triangles_incremental,
    "customer_rfm_scores": customer_rfm_scores,
    "event_type_daily_zscore": event_type_daily_zscore,
    "doc_cms_token_freq": doc_cms_token_freq,
    "doc_cms_heavy_hitters": doc_cms_heavy_hitters,
    "orders_cdc_upsert": orders_cdc_upsert,
    "user_event_type_scd2": user_event_type_scd2,
    "doc_bloom_screen": doc_bloom_screen,
    "doc_bigram_lm": doc_bigram_lm,
    "doc_bigram_oov": doc_bigram_oov,
    "doc_bpe_merges": doc_bpe_merges,
    "doc_bpe_token_stats": doc_bpe_token_stats,
    "doc_bpe_encode": doc_bpe_encode,
    "event_value_quantile_sketch": event_value_quantile_sketch,
    "event_value_bottomk_quantiles": event_value_bottomk_quantiles,
    "event_type_bottomk_quantiles": event_type_bottomk_quantiles,
    "event_type_quantile_sketch": event_type_quantile_sketch,
    "events_zorder_layout": events_zorder_layout,
    "events_profile": events_profile,
    "emb_knn_ivf": emb_knn_ivf,
    "emb_knn_ivf_refined": emb_knn_ivf_refined,
    "emb_ivf_recall_curve": emb_ivf_recall_curve,
    "emb_knn_lsh": emb_knn_lsh,
    "emb_knn_lsh_multiprobe": emb_knn_lsh_multiprobe,
    "mm_image_features": mm_image_features,
    "mm_video_features": mm_video_features,
    "mm_video_frames": mm_video_frames,
    "mm_video_scene_cuts": mm_video_scene_cuts,
    "mm_thumbnails": mm_thumbnails,
    "mm_pixel_stats": mm_pixel_stats,
    "mm_audio_features": mm_audio_features,
    "mm_pcm_stats": mm_pcm_stats,
    "geo_user_tracks": geo_user_tracks,
    "doc_top_tokens": doc_top_tokens,
    "doc_repetition_signals": doc_repetition_signals,
    "doc_source_stats": doc_source_stats,
    "doc_shard_stats": doc_shard_stats,
    "emb_semantic_dedup": emb_semantic_dedup,
    "doc_source_overlap": doc_source_overlap,
    "doc_dedup_keep_best": doc_dedup_keep_best,
    "doc_domain_mix_plan": doc_domain_mix_plan,
    "doc_domain_mix_sample": doc_domain_mix_sample,
    "doc_weighted_sample": doc_weighted_sample,
    "doc_sample_merged": doc_sample_merged,
    "doc_weighted_sample_by_lang": doc_weighted_sample_by_lang,
    "doc_bm25_search": doc_bm25_search,
    "doc_hybrid_search": doc_hybrid_search,
    "doc_incremental_dedup": doc_incremental_dedup,
    "doc_incremental_dup_clusters": doc_incremental_dup_clusters,
    "doc_segment_dedup": doc_segment_dedup,
    "doc_substring_dedup": doc_substring_dedup,
    "doc_incremental_substring_dedup": doc_incremental_substring_dedup,
    "doc_token_rarity": doc_token_rarity,
    "doc_hll_tokens": doc_hll_tokens,
    "doc_leakage_safe_split": doc_leakage_safe_split,
    "doc_temperature_mix": doc_temperature_mix,
    "customer_supplier_name_match": customer_supplier_name_match,
    "doc_prefix_edit_pairs": doc_prefix_edit_pairs,
    "customer_supplier_match_between": customer_supplier_match_between,
    "doc_prefix_edit_pairs_between": doc_prefix_edit_pairs_between,
    "doc_corpus_pipeline": doc_corpus_pipeline,
    "doc_script_mix": doc_script_mix,
    "doc_unicode_hygiene": doc_unicode_hygiene,
    "event_props_typed_read": event_props_typed_read,
    "doc_ingest_pipeline": doc_ingest_pipeline,
    "event_type_value_trend": event_type_value_trend,
    "order_totals_cube": order_totals_cube,
    "orders_snapshot_diff": orders_snapshot_diff,
    "part_copurchase_edge_jaccard": part_copurchase_edge_jaccard,
    "event_value_winsorized": event_value_winsorized,
}

EXT_ORACLE: dict[str, str] = {
    "fk_integrity_audit": _fk_audit_sql(),
    "user_value_grid_interp": _grid_interp_sql(),
    "mm_image_near_dup": _image_near_dup_sql(),
    "events_cv_folds": _cv_folds_sql(),
    "user_event_gap_report": _gap_report_sql(),
    "emb_knn_recall": _knn_recall_sql(),
    "user_cohort_retention": _COHORT_SQL,
    "user_funnel": _funnel_sql(),
    "user_funnel_windowed": _funnel_windowed_sql(),
    "doc_dup_cluster_stats": _dup_cluster_stats_sql(),
    "doc_dedup_recall": _dedup_recall_sql(),
    "doc_vocab_stats": _VOCAB_STATS_SQL,
    "doc_length_histogram": _LEN_HIST_SQL,
    "doc_text_stats": _TEXT_STATS_SQL,
    "doc_token_counts": _TOKEN_COUNTS_SQL,
    "doc_rolling_fp": _ROLLING_FP_SQL,
    "doc_lang_id": _lang_id_sql(),
    "doc_exact_dups": _EXACT_DUPS_SQL,
    "doc_ngram_dup_pairs": _NGRAM_PAIRS_SQL,
    "doc_containment_pairs": _CONTAINMENT_SQL,
    "doc_minhash_lsh_pairs": _minhash_lsh_sql(),
    "doc_minhash_estimate": _minhash_estimate_sql(),
    "doc_simhash": _simhash_sql(),
    "doc_simhash_near_pairs": _simhash_pairs_sql(),
    "doc_dup_clusters": _dup_clusters_sql(),
    "doc_quality_filter": _QUALITY_FILTER_SQL,
    "doc_near_dup_drop": _near_dup_drop_sql(),
    "doc_benchmark_contamination": _CONTAM_SQL,
    "doc_pii_scrub": _PII_SQL,
    "doc_chunks": _CHUNKS_SQL,
    "doc_tfidf_terms": _TFIDF_SQL,
    "emb_quantize": _QUANTIZE_SQL,
    "event_sessions": _SESSIONS_SQL,
    "doc_stratified_sample": _stratified_sample_sql(),
    "doc_pack_batches": _pack_batches_sql(),
    "emb_knn_bruteforce": _KNN_SQL,
    "emb_knn_same_label": _KNN_FILTERED_SQL,
    "event_value_drift": _drift_sql(),
    "event_type_value_drift": _drift_by_group_sql(),
    "emb_hard_negatives": _HARD_NEG_SQL,
    "emb_near_dup_pairs": _NEAR_DUP_SQL,
    "emb_lsh_near_dup_pairs": _lsh_near_dup_sql(),
    "emb_lsh_buckets": _lsh_buckets_sql(),
    "emb_ivf_assign": _IVF_ASSIGN_SQL,
    "emb_ivf_cluster_quality": _IVF_QUALITY_SQL,
    "emb_pq_codes": _pq_codes_sql(),
    "emb_knn_pq": _knn_pq_sql(),
    "emb_pq_codes_refined": _pq_codes_refined_sql(),
    "emb_knn_ivfpq": _knn_ivfpq_sql(),
    "emb_knn_ivfpq_trained": _knn_ivfpq_trained_sql(),
    "emb_knn_ivfpq_residual": _ivfpq_arm_sql(True),
    # the appended-index search must equal the from-scratch full-corpus
    # replay (seeds are the lowest-id vectors, which live in the base) —
    # the SAME SQL as emb_knn_ivfpq, but driven through the staged ->
    # append -> load-with-quantizer chain on the Spark side
    "emb_knn_ivfpq_appended": _knn_ivfpq_sql(),
    "emb_ivfpq_residual_recall": _ivfpq_residual_recall_sql(),
    "emb_pq_recall": _pq_recall_sql(),
    "events_hll_users_incremental": _hll_merge_sql(),
    "lineitem_hll_order_overlap": _hll_overlap_sql(),
    "part_copurchase_pagerank": _pagerank_sql(),
    "part_copurchase_communities": _lpa_sql(),
    "part_copurchase_triangles": _triangles_sql(),
    "lineitem_kmv_part_overlap": _kmv_overlap_sql(),
    "event_value_outliers": _mad_outliers_sql(),
    "part_basket_rules": _basket_rules_sql(),
    "user_event_transitions": _TRANSITIONS_SQL,
    "nation_supplier_hhi": _HHI_SQL,
    "part_copurchase_kcore": _kcore_sql(),
    "doc_cosine_pairs": _COSINE_PAIRS_SQL,
    "part_copurchase_pagerank_weighted": _pagerank_sql(weighted=True),
    "part_copurchase_pagerank_incremental": _pagerank_incr_sql(),
    "part_copurchase_communities_incremental": _lpa_incr_sql(),
    "part_copurchase_triangles_incremental": _triangles_sql("p % 2 = 0"),
    "customer_rfm_scores": _RFM_SQL,
    "event_type_daily_zscore": _ZSCORE_SQL,
    "doc_cms_token_freq": _cms_sql(),
    "doc_cms_heavy_hitters": _cms_heavy_hitters_sql(),
    "orders_cdc_upsert": _CDC_UPSERT_SQL,
    "user_event_type_scd2": _SCD2_SQL,
    "doc_bloom_screen": _bloom_screen_sql(),
    "doc_bigram_lm": _BIGRAM_LM_SQL,
    "doc_bigram_oov": _BIGRAM_OOV_SQL,
    "doc_bpe_merges": _bpe_merges_sql(),
    "doc_bpe_token_stats": _bpe_token_stats_sql(),
    "doc_bpe_encode": _bpe_encode_sql(),
    "event_value_quantile_sketch": _HIST_QSKETCH_SQL,
    "event_value_bottomk_quantiles": _bottomk_quantiles_sql(),
    "event_type_bottomk_quantiles": _grouped_bottomk_sql(),
    "event_type_quantile_sketch": _GHIST_SQL,
    "events_zorder_layout": _zorder_sql(),
    "events_profile": _profile_sql(),
    "emb_knn_ivf": _KNN_IVF_SQL,
    "emb_knn_ivf_refined": _knn_ivf_refined_sql(),
    "emb_ivf_recall_curve": _ivf_recall_curve_sql(),
    "emb_knn_lsh": _knn_lsh_sql(),
    "emb_knn_lsh_multiprobe": _knn_lsh_multiprobe_sql(),
    "mm_image_features": _MM_IMAGE_SQL,
    "mm_video_features": _MM_VIDEO_FEATURES_SQL,
    "mm_video_frames": _MM_VIDEO_FRAMES_SQL,
    "mm_video_scene_cuts": _MM_VIDEO_SCENE_CUTS_SQL,
    "mm_thumbnails": _MM_THUMBNAILS_SQL,
    "mm_pixel_stats": _MM_PIXEL_STATS_SQL,
    "mm_audio_features": _MM_AUDIO_SQL,
    "mm_pcm_stats": _MM_PCM_SQL,
    "doc_top_tokens": _TOP_TOKENS_SQL,
    "doc_repetition_signals": _REPETITION_SQL,
    "doc_source_stats": _SOURCE_STATS_SQL,
    "doc_shard_stats": _SHARD_STATS_SQL,
    "emb_semantic_dedup": _SEMANTIC_DEDUP_SQL,
    "doc_source_overlap": _SOURCE_OVERLAP_SQL,
    "doc_dedup_keep_best": _dedup_keep_best_sql(),
    "doc_domain_mix_plan": _MIX_PLAN_SQL,
    "doc_domain_mix_sample": _MIX_SAMPLE_SQL,
    "doc_weighted_sample": _weighted_sample_sql(),
    "doc_sample_merged": _sample_merged_sql(),
    "doc_weighted_sample_by_lang": _weighted_sample_by_lang_sql(),
    "doc_bm25_search": _bm25_sql(),
    "doc_hybrid_search": _hybrid_sql(),
    "doc_incremental_dedup": _incremental_dedup_sql(),
    "doc_incremental_dup_clusters": _dup_clusters_incr_sql(),
    "doc_segment_dedup": _SEGMENT_DEDUP_SQL,
    "doc_substring_dedup": _SUBSTRING_DEDUP_SQL,
    "doc_incremental_substring_dedup": _INCR_SUBSTRING_SQL,
    "doc_token_rarity": _TOKEN_RARITY_SQL,
    "doc_hll_tokens": _hll_tokens_sql(),
    "doc_leakage_safe_split": _leakage_split_sql(),
    "doc_temperature_mix": _TEMP_MIX_SQL,
    "geo_user_tracks": _geo_tracks_sql(),
    "customer_supplier_name_match": _fuzzy_match_sql(),
    "doc_prefix_edit_pairs": _edit_pairs_sql(),
    "customer_supplier_match_between": _fuzzy_between_sql(),
    "doc_prefix_edit_pairs_between": _edit_between_sql(),
    "doc_corpus_pipeline": _corpus_pipeline_sql(),
    "doc_script_mix": _script_mix_sql(),
    "doc_unicode_hygiene": _unicode_hygiene_sql(),
    "event_props_typed_read": _PROPS_TYPED_SQL,
    "doc_ingest_pipeline": _ingest_pipeline_sql(),
    "event_type_value_trend": _value_trend_sql(),
    "order_totals_cube": _cube_sql(),
    "orders_snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "part_copurchase_edge_jaccard": _edge_jaccard_sql(),
    "event_value_winsorized": _winsorized_sql(),
}
