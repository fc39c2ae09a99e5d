"""Deduplication operators for LLM data pipelines (SURVEY.md §2.10):
exact hash dedup, MinHash+LSH near-dedup, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:

- Exact dedup is a hash-groupBy: one shuffle on the content hash, no
  comparisons. At 100 TB, hash first (64-128 bit), never compare text.
- MinHash+LSH is the scale path for near-dedup: signatures are computed
  per-document (embarrassingly parallel, JVM-side HOFs), banding turns
  the quadratic all-pairs problem into a groupBy on band keys, and only
  same-bucket candidates are compared. Hot buckets are the classic skew
  risk — AQE skew-join handles moderate cases; degenerate buckets (all
  documents identical) should be capped/salted upstream.
- The all-pairs variants (n-gram Jaccard, SimHash pairs, embedding
  cosine) are deliberately restricted to a small id slice: they are the
  correctness oracle for the similarity math. The banded/LSH forms are
  what runs on the full corpus.

The hash family is md5 in both engines, so every operator here —
including MinHash — is bit-reproducible against the DuckDB oracle; no
seeded RNG is involved anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..shared import shared
from ..tables import load, spread

N_MINHASH = 12  # 4 bands x 3 rows
N_BANDS = 4
BAND_ROWS = 3

# Spark-SQL expression fragments (mirrored 1:1 in the DuckDB oracles).
# Too-short inputs MUST short-circuit to an empty array: Spark's
# sequence(1, 0) is the DESCENDING [1, 0] (not [] like DuckDB's
# range(1, 1)), which would crash element_at lookups on single-token
# docs and fabricate junk shingles for sub-n-gram texts — a silent
# engine divergence the fixture's long texts never exercise.
SHINGLES_EXPR = (
    "if(length(text) >= 3,"
    " array_distinct(transform(sequence(1, length(text) - 2),"
    " i -> substring(text, i, 3))),"
    " array())"
)
# Word-bigram shingles for MinHash: the standard granularity for LLM
# corpus dedup (char n-grams over-match on shared vocabulary), and ~10x
# fewer hash calls per document than char 3-grams.
WORD_SHINGLES_EXPR = (
    "if(size(toks) >= 2,"
    " array_distinct(transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))),"
    " array())"
)
# One md5 pair per shingle (64 hex chars) sliced into twelve 5-char
# chunks = 12 independent 20-bit hash functions. 12x fewer md5 calls
# than hashing per (seed, shingle), with identical minhash semantics.
SIG_EXPR = (
    "transform(shingles, sh -> concat(md5(sh), md5(concat('x', sh))))"
)
MIN_EXPR = (
    f"transform(sequence(0, {N_MINHASH - 1}),"
    " s -> array_min(transform(hs, h -> substring(h, s * 5 + 1, 5))))"
)


@query(
    "q_llm_exact_dedup",
    oracle="""
        SELECT source,
               count(*)                                        AS n_docs,
               count(DISTINCT md5(lower(trim(text))))
                 + CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT)                             AS n_unique,
               CAST(count(*) AS BIGINT)
                 - count(DISTINCT md5(lower(trim(text))))
                 - CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT)                             AS n_dup_rows,
               min(doc_id)                                     AS first_doc
        FROM documents
        GROUP BY source
    """,
    description="Exact dedup: content-hash groupBy on normalized text, per-source dup counts",
    tags=("llm", "dedup"),
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-text rule (family-wide, same as q_llm_split_leakage): a
    document with no content cannot be a duplicate of anything, so each
    NULL-text row counts as its own unique doc. countDistinct skips
    NULL hashes, so without the explicit NULL term every NULL-text row
    inflated n_dup_rows even when nothing was duplicated (review r6)."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    n_null = F.sum(F.col("h").isNull().cast("long"))
    return (
        docs.select("source", "doc_id", h.alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.countDistinct("h") + n_null).alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("h") - n_null).alias(
                "n_dup_rows"
            ),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "q_llm_ngram_jaccard",
    oracle="""
        WITH sh AS (
            -- coalesce: a NULL document has the EMPTY shingle set (so
            -- its pairs appear with jaccard 0), rather than a NULL one
            -- whose propagation the engines disagree on (Spark nulls
            -- through concat/size, DuckDB list_concat skips NULLs).
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, length(coalesce(text, '')) - 1),
                       i -> substr(coalesce(text, ''), i, 3))) AS s
            FROM documents
            WHERE doc_id < 60
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))
                     / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE),
                     6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
        ORDER BY jaccard DESC, id_a, id_b
        LIMIT 20
    """,
    description="n-gram Jaccard near-dup: exact 3-gram set similarity, top-20 pairs (oracle slice)",
    tags=("llm", "dedup", "jaccard"),
)
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        # NULL text -> empty shingle set, matching the oracle's coalesce
        .withColumn("text", F.coalesce("text", F.lit("")))
    )
    sh = docs.select("doc_id", F.expr(SHINGLES_EXPR).alias("s"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_distinct(F.concat(F.col("a.s"), F.col("b.s"))))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.alias("ni"),
            union.alias("nu"),
        )
        # Two sub-3-char texts have EMPTY shingle sets: their Jaccard is
        # 0/0 — undefined, ANSI-divide-by-zero on Spark, NULL on DuckDB —
        # so degenerate pairs are excluded on both sides (oracle has the
        # matching WHERE) rather than leaning on NULL-ordering quirks.
        .filter(F.col("nu") > 0)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("ni") / F.col("nu").cast("double"), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


def _band_key_sql(b: int, spark_dialect: bool = False) -> str:
    """Band-key expression; bracket indexing is 1-based in DuckDB but
    0-based in Spark, so the Spark variant uses element_at (1-based)."""
    elem = (
        (lambda i: f"element_at(sig, {i})")
        if spark_dialect
        else (lambda i: f"sig[{i}]")
    )
    parts = " || '|' || ".join(
        elem(b * BAND_ROWS + r + 1) for r in range(BAND_ROWS)
    )
    return f"md5('{b}|' || {parts})"


def _minhash_sig_sql(docs: DataFrame) -> DataFrame:
    """JVM-SQL spelling of the signature build (the oracle mirror).
    NOT the production path since r16: like the simhash fold,
    ProjectCollapse inlines the ``hs`` projection into MIN_EXPR's
    twelve per-chunk array_min lambdas, so the md5 pair reruns 12x
    per shingle, all of it interpreted (HOFs are CodegenFallback).
    Kept for the arrow-vs-sql equivalence test."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.expr(WORD_SHINGLES_EXPR).alias("shingles"))
        .select("doc_id", F.expr(SIG_EXPR).alias("hs"))
        .select("doc_id", F.expr(MIN_EXPR).alias("sig"))
    )


def _minhash_sig_arrow(docs: DataFrame) -> DataFrame:
    """Vectorized MinHash signature build (r16, same rewrite family as
    _simhash_arrow_fold): md5 pair once per DISTINCT shingle (per-task
    cache), per-doc signature = positional min over the cached 12
    5-hex-char chunks. Bit-identical to _minhash_sig_sql: lowercase
    hex is ASCII so Python's code-point string min equals Spark's
    binary UTF8String ordering; docs with <2 tokens or NULL text
    produce the [NULL]*12 signature the SQL spelling yields
    (size(NULL)>=2 is NULL -> else-branch empty shingle array ->
    array_min over empty = NULL). Measured at sf0.1 (min-of-5, fresh
    sessions): the signature materialization 0.50 wall / 6.6
    JVM-CPU-s (spiking to 2.7 / 21.7 under the interpreted-path JIT
    storms) -> 0.55 wall / 0.3 JVM-CPU-s, flat across reps. Only
    (doc_id, text) crosses the Arrow boundary; the build stays
    row-local (zero shuffle)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sig", ArrayType(StringType())),
        ]
    )

    def gen(batches):
        import hashlib

        import pyarrow as pa

        from sparkstreamingtohdfsofsensorsdata_spark.workerfast import activate

        activate()
        cache: dict = {}

        def chunks(sh: str):
            c = cache.get(sh)
            if c is None:
                bs = sh.encode("utf-8")
                h = (
                    hashlib.md5(bs).hexdigest()
                    + hashlib.md5(b"x" + bs).hexdigest()
                )
                if len(cache) > 2_000_000:
                    # bound per-task memory on pathological partitions;
                    # only costs recomputation, never correctness
                    cache.clear()
                c = cache[sh] = tuple(
                    h[i * 5 : i * 5 + 5] for i in range(N_MINHASH)
                )
            return c

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            sigs = []
            for tx in texts:
                toks = tx.split(" ") if tx is not None else []
                if len(toks) < 2:
                    sigs.append([None] * N_MINHASH)
                    continue
                mins = None
                for sh in {
                    f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
                }:
                    cs = chunks(sh)
                    mins = (
                        list(cs)
                        if mins is None
                        else [m if m < c else c for m, c in zip(mins, cs)]
                    )
                sigs.append(mins)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sigs, type=pa.list_(pa.string()))],
                ["doc_id", "sig"],
            )

    return docs.select("doc_id", "text").mapInArrow(gen, out_schema)


@query(
    "q_llm_minhash_lsh",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS shingles
            FROM tok
        ),
        sig AS (
            SELECT doc_id,
                   list_transform(range(0, {N_MINHASH}),
                       s -> list_min(list_transform(
                            list_transform(shingles,
                                sh2 -> md5(sh2) || md5('x' || sh2)),
                            h -> substr(h, s * 5 + 1, 5)))) AS sig
            FROM sh
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, sig, {_band_key_sql(b)} AS band_key FROM sig" for b in range(N_BANDS))}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sig AS sig_a, b.sig AS sig_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(list_sum(list_transform(range(1, {N_MINHASH + 1}),
                     i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
                     / {float(N_MINHASH)}, 6) AS est_jaccard
        FROM cand
        QUALIFY row_number() OVER (ORDER BY est_jaccard DESC, id_a, id_b) <= 50
        ORDER BY est_jaccard DESC, id_a, id_b
    """,
    description="MinHash+LSH near-dedup: md5 minhash signatures, 4x3 banding, bucket join, top-50 candidates",
    tags=("llm", "dedup", "minhash", "lsh"),
)
def q_llm_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    sig = (
        # r16: the Arrow kernel replaces the interpreted SQL spelling
        # (see _minhash_sig_arrow / _minhash_sig_sql)
        _minhash_sig_arrow(docs)
        # the md5-heavy signature plan is read by the band explode AND
        # two candidate joins — compute it once. localCheckpoint (lazy)
        # caches like persist() but its blocks are released by the
        # ContextCleaner once the result DataFrame is garbage-collected,
        # so repeated library calls don't accumulate cached blocks the
        # way an unmanaged .persist() does. (At real scale: write the
        # signature table to storage once instead.)
        .localCheckpoint(eager=False)
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[F.expr(_band_key_sql(b, spark_dialect=True)) for b in range(N_BANDS)]
            )
        ).alias("band_key"),
    )
    # Join on ids ONLY: a self-similar corpus makes band buckets huge,
    # and carrying two 12-element signatures through every candidate
    # pair multiplies shuffle width ~50x (observed OOM at sf0.1). Dedup
    # the narrow pairs first, then broadcast the signature table back.
    a = bands.alias("a")
    b = bands.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    cand = (
        pair_ids.join(
            F.broadcast(sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))),
            "id_b",
        )
    )
    est = F.expr(
        f"aggregate(transform(sequence(1, {N_MINHASH}),"
        " i -> CASE WHEN element_at(sig_a, i) = element_at(sig_b, i)"
        " THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x)"
    ) / float(N_MINHASH)
    return (
        cand.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .orderBy(F.col("est_jaccard").desc(), "id_a", "id_b")
        .limit(50)
    )


# Hash once per token (not once per token per bit — 64x fewer md5
# calls), then fold the 64 sign bits over the cached hex digests.
# Operates on a pre-computed `hs` column = transform(toks, t -> md5(t)).
#
# 64 bits, not 32 (r16 — the sf1 band-saturation finding): with a
# 32-bit simhash the 4 pigeonhole bands are 8-bit, i.e. 256 band
# values; once the corpus carries more than a few thousand DISTINCT
# signatures every band value collides and the banded candidate set
# grows ~n^2/2^8 (measured: the sf1 tier's 36k distinct signatures
# made the pair build 47x CPU at 10x data). The classic simhash is
# 64-bit precisely so the 4 hamming<=3 bands are 16-bit: the random
# collision rate drops by 2^8 per band and the pair table stays
# ~linear until ~10^6-10^7 distinct signatures — the next widening is
# SHIPPED as q_llm_simhash_banded128 (two digests, 4x32-bit bands).
# Bits 1..32 take each hex nibble's high bit (>= '8'), bits 33..64 the
# same nibble's second bit (digit in 4..7 or c..f) — two independent
# bits per md5 hex character, no extra hashing.
TOKEN_HASHES_EXPR = "transform(toks, t -> md5(t))"


def _fold64_expr(col: str) -> str:
    """The 64-bit sign fold over a pre-hashed hex-digest array column
    — parameterized so the 128-bit tier can run the identical fold
    over a second digest array."""
    return SIMHASH_EXPR.replace("aggregate(hs,", f"aggregate({col},")


SIMHASH_EXPR = (
    "cast(aggregate(transform(sequence(1, 64),"
    " b -> CASE WHEN aggregate(hs, 0,"
    "   (acc, h) -> acc + CASE WHEN CASE WHEN b <= 32"
    "     THEN substring(h, b, 1) >= '8'"
    "     ELSE substring(h, b - 32, 1) between '4' and '7'"
    "       or substring(h, b - 32, 1) >= 'c' END"
    "   THEN 1 ELSE -1 END) > 0"
    " THEN shiftleft(cast(1 as bigint), b - 1) ELSE cast(0 as bigint) END),"
    " cast(0 as bigint), (acc, x) -> acc + x) as bigint)"
)
# DuckDB mirror of the same two-step computation (hash once, fold
# bits). Bit 64 is the BIGINT sign bit: DuckDB raises on 1 << 63, so
# that one bit is spelled as the min-long literal (HUGEINT-parsed,
# exact); list_sum accumulates in HUGEINT and the outer CAST lands the
# identical two's-complement value Spark's long arithmetic produces.
SIMHASH_ORACLE_CTE = """
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(1, 65),
                        b -> CASE WHEN list_sum(list_transform(hs,
                                 h -> CASE WHEN CASE WHEN b <= 32
                                          THEN substr(h, b, 1) >= '8'
                                          ELSE substr(h, b - 32, 1)
                                                 BETWEEN '4' AND '7'
                                            OR substr(h, b - 32, 1) >= 'c'
                                          END
                                      THEN 1 ELSE -1 END)) > 0
                             THEN CASE WHEN b = 64
                                  THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << (b - 1) END
                             ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
            FROM (SELECT doc_id,
                         list_transform(string_split(text, ' '), t -> md5(t)) AS hs
                  FROM documents{where})
"""


def _simhash_df_sql(docs: DataFrame) -> DataFrame:
    """The JVM-SQL spelling of the 64-bit signature build — the
    executable spec the DuckDB oracle mirrors. NOT the production
    path since r16: higher-order-function lambdas are CodegenFallback
    (interpreted per element), so the fold costs 64 interpreted CASE
    evals per token, and ProjectCollapse inlines the `hs` projection
    into the fold so md5 runs once per (token, bit) despite the
    hash-once comment above (measured at sf0.1: localCheckpoint-
    barriering `hs` alone cut min-of-5 CPU 14.7 -> 5.9 s). Kept for
    the arrow-vs-sql equivalence test; `_simhash_df` below is the
    shipped path."""
    return (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.expr(TOKEN_HASHES_EXPR).alias("hs"))
        .select("doc_id", F.expr(SIMHASH_EXPR).alias("simhash"))
    )


def _simhash_arrow_fold(docs: DataFrame, wide: bool) -> DataFrame:
    """Vectorized signature fold: md5 once per DISTINCT token (vocab
    cached per task), count-weighted numpy bit sums per doc.

    Replaces the interpreted HOF fold (r16, guide-§4 rewrite): the SQL
    spelling evaluates 64 interpreted CASE lambdas per token per
    digest AND recomputes md5 per bit (see _simhash_df_sql). Here the
    per-token ±1 bit rows come from the digest bytes once per distinct
    token, and the per-doc fold is sign(2*S - T) where S = Σ cnt(t) *
    bits(t) — integer-exact, bit-identical to the SQL fold (ties: the
    strict `> 0` maps to `2S > T`). Measured at sf0.1 (min of 5,
    fresh sessions): 1.00 wall / 14.7 JVM-CPU-s -> 0.42 wall / 0.2
    JVM-CPU-s for the 64-bit corpus fold — and it removes the
    interpreter-path JIT storms that made the HOF fold spike to
    26 wall / 657 CPU-s on loaded runs. Python-side cost is ~20 us
    per doc (Counter + one 64/128-wide SAXPY per distinct token),
    vectorized per guide §4.2; only (doc_id, text) crosses the Arrow
    boundary. At 100 TB the fold stays row-local (zero shuffle); the
    per-task vocab cache is capped at 2M entries (r17, matching the
    minhash kernel) and amortizes md5 across the corpus' Zipf head."""
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [StructField("doc_id", LongType())]
    fields += (
        [StructField("lo", LongType()), StructField("hi", LongType())]
        if wide
        else [StructField("simhash", LongType())]
    )
    out_schema = StructType(fields)
    salt = SIMHASH128_SALT.encode("utf-8")

    def fold(batches):
        import hashlib
        from collections import Counter

        import numpy as np
        import pyarrow as pa

        from sparkstreamingtohdfsofsensorsdata_spark.workerfast import activate

        activate()
        width = 128 if wide else 64
        pow64 = np.uint64(1) << np.arange(64, dtype=np.uint64)
        vocab: dict = {}

        def bit_row(tok: str):
            row = vocab.get(tok)
            if row is None:
                bs = tok.encode("utf-8")
                digs = [hashlib.md5(bs).digest()]
                if wide:
                    digs.append(hashlib.md5(bs + salt).digest())
                row = np.empty(width, np.int64)
                for k, d in enumerate(digs):
                    nib = np.frombuffer(d, dtype=np.uint8)
                    nibs = np.empty(32, np.uint8)
                    nibs[0::2] = nib >> 4
                    nibs[1::2] = nib & 15
                    # simhash bit b (1..32) = nibble b's 8-bit; bits
                    # 33..64 = the same nibble's 4-bit — exactly the
                    # SIMHASH_EXPR / oracle hex tests
                    row[64 * k : 64 * k + 32] = (nibs >> 3) & 1
                    row[64 * k + 32 : 64 * k + 64] = (nibs >> 2) & 1
                if len(vocab) > 2_000_000:
                    # bound per-task memory on pathological partitions
                    # (ADVICE r16: each row is a 64/128-cell int64 array,
                    # ~0.5-1 KB — an unbounded cache on a high-distinct-
                    # token partition grows the Python worker by GBs);
                    # clearing only costs recomputation, never correctness
                    vocab.clear()
                vocab[tok] = row
            return row

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            lo = np.zeros(len(texts), np.uint64)
            hi = np.zeros(len(texts), np.uint64)
            for i, tx in enumerate(texts):
                if tx is None:
                    # NULL text folds to the all-zero signature in the
                    # SQL spelling (CASE WHEN null>0 ... ELSE 0), not
                    # to NULL — verified against _simhash_df_sql
                    continue
                toks = tx.split(" ")
                t_total = len(toks)
                s = np.zeros(width, np.int64)
                for t, c in Counter(toks).items():
                    s += c * bit_row(t)
                bits = (2 * s > t_total).astype(np.uint64)
                lo[i] = (bits[:64] * pow64).sum()
                if wide:
                    hi[i] = (bits[64:] * pow64).sum()
            cols = [ids, pa.array(lo.view(np.int64))]
            if wide:
                cols.append(pa.array(hi.view(np.int64)))
            yield pa.RecordBatch.from_arrays(cols, out_schema.names)

    return docs.select("doc_id", "text").mapInArrow(fold, out_schema)


def _simhash_df(docs: DataFrame) -> DataFrame:
    return _simhash_arrow_fold(spread(docs, "doc_id"), wide=False)


@query(
    "q_llm_simhash",
    oracle=f"""
        WITH s AS (
            {SIMHASH_ORACLE_CTE.format(where=" WHERE doc_id < 60")}
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        QUALIFY row_number() OVER (ORDER BY hamming ASC, id_a, id_b) <= 20
        ORDER BY hamming ASC, id_a, id_b
    """,
    description="SimHash near-dup: 64-bit nibble simhash over tokens, top-20 closest pairs by Hamming",
    tags=("llm", "dedup", "simhash"),
)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _simhash_df(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60))
    a = s.alias("a")
    b = s.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .orderBy(F.col("hamming").asc(), "id_a", "id_b")
        .limit(20)
    )


SIMHASH_BANDS = 4  # 4 x 16-bit bands over the 64-bit simhash (r16)
SIMHASH_BAND_BITS = 16
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
SIMHASH_HAMMING_MAX = SIMHASH_BANDS - 1  # banding is COMPLETE within this radius


@query(
    "q_llm_simhash_banded",
    oracle=f"""
        WITH s AS (
            {SIMHASH_ORACLE_CTE.format(where="")}
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band, (simhash >> {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK} AS bv FROM s" for b in range(SIMHASH_BANDS))}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sa, b.simhash AS sb
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING_MAX}
        ORDER BY hamming ASC, id_a, id_b
    """,
    description="SimHash banded near-dup: 4x16-bit band bucket join over the FULL corpus, all pairs within the guaranteed Hamming radius",
    tags=("llm", "dedup", "simhash", "lsh"),
)
def q_llm_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale SimHash path (q_llm_simhash is the exact
    all-pairs oracle slice; this runs the whole corpus).

    The 64-bit simhash is cut into SIMHASH_BANDS 16-bit bands; by
    pigeonhole, any pair within Hamming distance SIMHASH_BANDS-1 shares
    at least one full band, so a groupBy/join on (band, band_value)
    finds EVERY near-duplicate within that radius without the quadratic
    all-pairs compare — the output is exactly the pairs a dedup pass
    would drop, not a lossy sample (test_similarity asserts the set
    equals the all-pairs computation).
    Same scale shape as MinHash banding, with one difference the tiny
    signature buys: the 8-byte simhash rides the band explode, so the
    hamming test runs INSIDE the bucket join and the pair distinct only
    shuffles true near-dups — no signature rejoin at all (MinHash keeps
    the narrow-ids-then-broadcast-rejoin form because its 12-element
    signatures are ~50x wider; see q_llm_minhash_lsh). Hot buckets
    (boilerplate-heavy corpora) are the usual skew risk — AQE skew-join
    or upstream bucket caps handle it.
    """
    return _simhash_banded_pairs(spark, sf_dir).orderBy(
        F.col("hamming").asc(), "id_a", "id_b"
    )


SIMHASH128_SALT = ":2"  # second-digest domain separator
_M32 = (1 << 32) - 1

# DuckDB mirror of one 64-bit fold, parameterized by the hashed-token
# list column (the 128-bit oracle runs it twice — over hs and hs2).
# Same sign-bit spelling as SIMHASH_ORACLE_CTE.
ORACLE_FOLD = """CAST(list_sum(list_transform(range(1, 65),
                        b -> CASE WHEN list_sum(list_transform({col},
                                 h -> CASE WHEN CASE WHEN b <= 32
                                          THEN substr(h, b, 1) >= '8'
                                          ELSE substr(h, b - 32, 1)
                                                 BETWEEN '4' AND '7'
                                            OR substr(h, b - 32, 1) >= 'c'
                                          END
                                      THEN 1 ELSE -1 END)) > 0
                             THEN CASE WHEN b = 64
                                  THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << (b - 1) END
                             ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""


def _simhash128_df_sql(docs: DataFrame) -> DataFrame:
    """JVM-SQL spelling of the 128-bit build (oracle mirror / spec;
    see _simhash_df_sql for why it is no longer the shipped path —
    both folds inline their digest projection, so this evaluates
    2 x 64 x tokens interpreted lambdas AND 2 x 64 x tokens md5s)."""
    return (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.expr(TOKEN_HASHES_EXPR).alias("hs"),
            F.expr(
                f"transform(toks, t -> md5(concat(t, '{SIMHASH128_SALT}')))"
            ).alias("hs2"),
        )
        .select(
            "doc_id",
            F.expr(_fold64_expr("hs")).alias("lo"),
            F.expr(_fold64_expr("hs2")).alias("hi"),
        )
    )


def _simhash128_df(docs: DataFrame) -> DataFrame:
    """(doc_id, lo, hi): the 128-bit signature as two 64-bit folds —
    ``lo`` over md5(token), ``hi`` over md5(token || ':2') (a second
    independent digest; the md5 nibbles' remaining two bits would need
    per-bit set-membership tests that measure slower than a second
    hash). r16: the fold runs in the vectorized Arrow kernel
    (_simhash_arrow_fold) — bit-identical to _simhash128_df_sql,
    measured 14.7 wall / 370+ JVM-CPU-s -> ~0.6 wall at sf0.1 for the
    full banded128 key."""
    return _simhash_arrow_fold(spread(docs, "doc_id"), wide=True)


@query(
    "q_llm_simhash_banded128",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   {ORACLE_FOLD.format(col="hs")} AS lo,
                   {ORACLE_FOLD.format(col="hs2")} AS hi
            FROM (SELECT doc_id,
                         list_transform(string_split(text, ' '),
                                        t -> md5(t)) AS hs,
                         list_transform(string_split(text, ' '),
                                        t -> md5(t || '{SIMHASH128_SALT}')) AS hs2
                  FROM documents)
        ),
        bands AS (
            SELECT doc_id, lo, hi, 0 AS band, lo & {_M32} AS bv FROM s
            UNION ALL
            SELECT doc_id, lo, hi, 1, (lo >> 32) & {_M32} FROM s
            UNION ALL
            SELECT doc_id, lo, hi, 2, hi & {_M32} FROM s
            UNION ALL
            SELECT doc_id, lo, hi, 3, (hi >> 32) & {_M32} FROM s
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS hamming
        FROM cand
        WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
              <= {SIMHASH_HAMMING_MAX}
        ORDER BY hamming ASC, id_a, id_b
    """,
    description="128-bit SimHash banded near-dup (4x32-bit bands): the next-decade LSH tier past 64-bit band saturation",
    tags=("llm", "dedup", "simhash", "lsh"),
)
def q_llm_simhash_banded128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The next-decade LSH tier (r16, SCALE.md sf1 section): banded
    SimHash stays linear only while distinct signatures stay sparse in
    the per-band value space — 16-bit bands saturate around 10^6-10^7
    distinct signatures the same way the old 8-bit bands saturated at
    thousands (the measured sf1 cliff). This key runs the IDENTICAL
    pipeline over a 128-bit signature (two 64-bit folds over two
    independent md5 digests) with 4x32-bit bands: the pigeonhole
    guarantee (any pair within hamming <= SIMHASH_BANDS-1 of 128
    shares a full band) is unchanged, and the random band-collision
    rate drops another 2^16 — linear to ~10^9 distinct signatures.

    Plan shape mirrors the 64-bit scale path exactly: distinct-VALUE
    banding (group by (hi, lo) first, so exact-dup multiplicity never
    multiplies bucket quadratics), hamming tested inside the bucket
    join, doc expansion from the value-group table, within-group exact
    dups emitted directly at hamming 0. The 128-bit radius is stricter
    per bit than the 64-bit key's (3 of 128 vs 3 of 64) — this tier
    trades recall-per-bit for an n that is 2^16 larger; both spellings
    are correct LSH, the choice is corpus size."""
    s = _simhash128_df(load(spark, sf_dir, "documents"))
    groups = (
        s.groupBy("hi", "lo")
        .agg(F.collect_list("doc_id").alias("ids"))
        .localCheckpoint(eager=False)
    )
    band_exprs = [
        F.expr(f"concat('0:', shiftright(lo, 0) & {_M32})"),
        F.expr(f"concat('1:', shiftright(lo, 32) & {_M32})"),
        F.expr(f"concat('2:', shiftright(hi, 0) & {_M32})"),
        F.expr(f"concat('3:', shiftright(hi, 32) & {_M32})"),
    ]
    bands = groups.select(
        "hi", "lo", F.explode(F.array(*band_exprs)).alias("band_key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    vpairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (
                F.struct(F.col("a.hi"), F.col("a.lo"))
                < F.struct(F.col("b.hi"), F.col("b.lo"))
            ),
        )
        .select(
            F.col("a.hi").alias("ha"),
            F.col("a.lo").alias("la"),
            F.col("b.hi").alias("hb"),
            F.col("b.lo").alias("lb"),
            F.expr(
                "bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    ga = groups.select(
        F.col("hi").alias("ha"), F.col("lo").alias("la"),
        F.col("ids").alias("ids_a"),
    )
    gb = groups.select(
        F.col("hi").alias("hb"), F.col("lo").alias("lb"),
        F.col("ids").alias("ids_b"),
    )
    cross = (
        vpairs.join(ga, ["ha", "la"])
        .join(gb, ["hb", "lb"])
        .select("hamming", F.explode("ids_a").alias("xa"), "ids_b")
        .select("hamming", "xa", F.explode("ids_b").alias("xb"))
        .select(
            F.least("xa", "xb").alias("id_a"),
            F.greatest("xa", "xb").alias("id_b"),
            "hamming",
        )
    )
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return (
        cross.unionByName(within)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy(F.col("hamming").asc(), "id_a", "id_b")
    )


@shared("dedup.signatures", payer="q_llm_simhash_banded")
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized full-corpus signature table (doc_id, simhash)
    — the r15 shared-pass memo (VERDICT r14 item 3): the banded-pairs
    build and q_llm_dedup_incremental each re-derived the ~6-CPU-s
    split + md5 + 64-bit fold over the whole corpus; now both read ONE
    lazily-checkpointed table. At 100 TB this IS the persisted
    signature index a dedup pipeline writes once and probes daily.
    Paid by q_llm_simhash_banded together with the pair table, so a
    cold-payer bench rerun rebuilds the full chain its upfront payment
    was charged for."""
    return _simhash_df(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )


@shared(
    "dedup.pairs", payer="q_llm_simhash_banded", reads=("dedup.signatures",)
)
def _simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (id_a < id_b, hamming) pairs within SIMHASH_HAMMING_MAX via
    the band-bucket join — shared by the banded query and the cluster
    (connected-components) query.

    Memoized per (live session, sf_dir) like _cc_labels: the banded
    query, the CC query, and the keep query all need this table in one
    suite/bench run, and a production pipeline writes the pair table
    once and reads it downstream. The handle is a lazy localCheckpoint,
    so nothing materializes until the first consumer runs."""
    return _simhash_banded_pairs_plan(spark, sf_dir).localCheckpoint(eager=False)


def _simhash_banded_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed pair plan, split out so tests/test_plans.py
    can gate its shape (the localCheckpoint wrapper above truncates the
    inspectable plan to a block scan).

    r15 CPU diet (VERDICT r14 item 3): the band-bucket join runs over
    DISTINCT simhash VALUES, not documents. A dedup corpus is full of
    exact-duplicate signatures (sf0.1: 5,000 docs -> 4,041 distinct
    hashes, and the heaviest values carry dozens of docs), and every
    duplicated value multiplied its bucket's candidate quadratics —
    collapsing to values first cut the bucket join from 14.7 to 2.4
    executor-CPU-s at sf0.1 while producing the IDENTICAL pair set.
    r16 widened the signature to 64 bits / 16-bit bands (see the
    SIMHASH_EXPR note): value-collapse removes the duplicate-driven
    quadratics, band width removes the random-collision quadratics
    the sf1 tier exposed at 36k distinct signatures. Shape:

    - value band join: the 8-byte simhash rides the band explode
      (4 rows per distinct value), the hamming test runs INSIDE the
      bucket join, the distinct (a value pair can share up to
      SIMHASH_BANDS buckets) runs over near-dup VALUE pairs only.
    - expansion: the (simhash -> ids) group table (distinct-value-
      sized, broadcastable) joins back twice and explodes to doc
      pairs; exact-dup groups emit their within-group pairs (hamming
      0) directly from the group row — those pairs never see the
      bucket join at all.

    At 100 TB the same caveat as every all-pairs-OUTPUT operator: a
    single simhash value shared by k docs inherently emits C(k, 2)
    pairs; production pipelines cap k per value (keep-one-per-exact-
    group upstream via q_llm_exact_dedup) before running near-dup."""
    s = simhash_signatures(spark, sf_dir)
    groups = (
        s.groupBy("simhash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .localCheckpoint(eager=False)
    )
    bands = groups.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.expr(f"concat('{b}:', shiftright(simhash, {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK})")
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    vpairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    # No broadcast hints (the common_neighbors lesson, ADVICE r14): the
    # group table is distinct-value-sized — trivially broadcast at
    # fixture scale, where AQE converts these joins at runtime, but a
    # forced hint would OOM instead of falling back to SMJ at 100x.
    ga = groups.select(F.col("simhash").alias("sa"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("simhash").alias("sb"), F.col("ids").alias("ids_b"))
    cross = (
        vpairs.join(ga, "sa")
        .join(gb, "sb")
        .select("hamming", F.explode("ids_a").alias("xa"), "ids_b")
        .select("hamming", "xa", F.explode("ids_b").alias("xb"))
        .select(
            F.least("xa", "xb").alias("id_a"),
            F.greatest("xa", "xb").alias("id_b"),
            "hamming",
        )
    )
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(within).select("id_a", "id_b", "hamming")


NEARDUP_BLOCKS = 8


def _block_pair_topk(key, pdf, k: int):
    """Group kernel for the blocked all-pairs GEMM (q_llm_embed_neardup):
    score this block pair's A-rows against its B-rows and return the
    group-local top-``k`` (id_a < id_b) pairs under the deterministic
    (dot desc, id_a, id_b) order.

    Module-level so the property test can drive it directly against a
    brute-force oracle (ties included) without a Spark job.
    """
    import numpy as np
    import pandas as pd

    from sparkstreamingtohdfsofsensorsdata_spark.workerfast import activate

    activate()
    ba, bb = key
    a = pdf[pdf["operand"] == 0]
    b = pdf[pdf["operand"] == 1]
    if not len(a) or not len(b):
        return pd.DataFrame({"id_a": [], "id_b": [], "dot": []}).astype(
            {"id_a": "int64", "id_b": "int64", "dot": "float64"}
        )
    ids_a = a["vec_id"].to_numpy()
    ids_b = b["vec_id"].to_numpy()
    scores = (
        np.stack(a["embedding"].to_numpy()).astype("float64")
        @ np.stack(b["embedding"].to_numpy()).astype("float64").T
    )
    if ba == bb:
        # Same block on both operands: each unordered pair appears
        # in both orientations — mask all but the id_a < id_b one.
        # (The GEMM itself stays full: numpy exposes no triangular
        # multiply, and BLAS n^2*d beats any Python-side triangle
        # bookkeeping.)
        scores[ids_a[:, None] >= ids_b[None, :]] = -np.inf
    # Group-local top-k WITHOUT materializing per-pair index arrays
    # for all n^2 entries: threshold-select every entry that can still
    # reach the top k (>= the kth-largest dot, so boundary ties all
    # survive to the deterministic sort). On a duplicate-heavy block —
    # the NORMAL case for a dedup corpus — every dot can EQUAL the
    # threshold, so the tie set itself is O(n^2); the candidate scan
    # therefore walks the flat score array in bounded chunks and
    # compacts to the running top-k as it goes (review r6). Peak extra
    # memory is O(chunk + k) triples regardless of how many entries
    # tie, on top of the GEMM's own score matrix (whose size is what
    # NEARDUP_BLOCKS is chosen to bound).
    flat = scores.ravel()
    # NaN dots (a NaN embedding) rank as "no similarity", not as
    # threshold poison: np.partition would otherwise land the kth
    # threshold ON a NaN, every `>= NaN` compare is False, and one bad
    # vector silently empties the whole block pair's output.
    flat = np.where(np.isnan(flat), -np.inf, flat)
    kth = min(k, flat.size)
    thresh = np.partition(flat, flat.size - kth)[flat.size - kth]
    chunk = 1 << 20
    acc_lo: list = []
    acc_hi: list = []
    acc_dot: list = []

    def _compact() -> None:
        # merge accumulated candidates down to the current top-k under
        # the deterministic (dot desc, id_a, id_b) order
        lo_c = np.concatenate(acc_lo)
        hi_c = np.concatenate(acc_hi)
        dot_c = np.concatenate(acc_dot)
        order = np.lexsort((hi_c, lo_c, -dot_c))[:k]
        acc_lo[:] = [lo_c[order]]
        acc_hi[:] = [hi_c[order]]
        acc_dot[:] = [dot_c[order]]

    for start in range(0, flat.size, chunk):
        seg = flat[start : start + chunk]
        idx = np.flatnonzero(seg >= thresh) + start
        idx = idx[np.isfinite(flat[idx])]  # masked/NaN -inf when thresh=-inf
        if not idx.size:
            continue
        ii, jj = np.unravel_index(idx, scores.shape)
        if ba == bb:
            lo_s, hi_s = ids_a[ii], ids_b[jj]
        else:
            # Distinct blocks: each unordered pair appears exactly
            # once; orient it by id regardless of which block hashed
            # lower.
            lo_s = np.minimum(ids_a[ii], ids_b[jj])
            hi_s = np.maximum(ids_a[ii], ids_b[jj])
        acc_lo.append(lo_s)
        acc_hi.append(hi_s)
        acc_dot.append(flat[idx])
        if sum(a.size for a in acc_lo) > max(4 * k, 1024):
            _compact()
    if not acc_lo:
        return pd.DataFrame({"id_a": [], "id_b": [], "dot": []}).astype(
            {"id_a": "int64", "id_b": "int64", "dot": "float64"}
        )
    _compact()
    return pd.DataFrame(
        {"id_a": acc_lo[0], "id_b": acc_hi[0], "dot": acc_dot[0]}
    )


@query(
    "q_llm_embed_neardup",
    oracle="""
        WITH v AS (
            -- len > 0: NULL/empty vectors are outside the similarity
            -- family's boundary (np.stack over a batch with None would
            -- crash the kernel; nothing meaningful to score).
            -- NaN/NULL ELEMENTS are likewise outside it, symmetrically:
            -- DuckDB sorts NaN above all values, so a NaN dot would top
            -- the oracle's top-20 while the Spark kernel drops it
            -- (NaN -> -inf) — a guaranteed one-sided divergence unless
            -- both engines exclude such vectors up front (ADVICE r4).
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
            WHERE len(embedding) > 0
              AND len(list_filter(embedding,
                        x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) = 0
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.e, b.e), 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        QUALIFY row_number() OVER (
            ORDER BY list_dot_product(a.e, b.e) DESC, id_a, id_b) <= 20
        ORDER BY cosine DESC, id_a, id_b
    """,
    description="Embedding-cosine near-dup: top-20 most-similar vector pairs (unit-norm => dot)",
    tags=("llm", "dedup", "embedding"),
)
def q_llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine via TWO-SIDED blocked matrix multiply — no side
    of the pair space ever touches the driver.

    Every vector hashes to one of B row-blocks; the unordered pair
    space is covered by the B*(B+1)/2 block pairs (ba <= bb). Each
    vector is shuffled once per partner block (tagged with the block
    pair it serves and which operand it is), then one applyInPandas
    group per block pair GEMMs its A-rows against its B-rows and keeps
    only the group-local top-k pairs. The global answer is a
    k * B*(B+1)/2 - row merge.

    Scale shape: shuffle volume is N*(B+1) rows total (each row
    replicated to its partner blocks) — the classic sqrt-scaling
    blocked all-pairs — and peak memory per task is two blocks
    (~2*N*d/B floats), so B is chosen so a block pair fits an
    executor; the driver only ever sees k rows per block pair. At
    100 TB you raise B (or pre-filter with the LSH path
    q_llm_minhash_lsh / q_llm_sim_topk_lsh); the kernel (per-pair GEMM
    + local top-k + tiny merge) is unchanged.
    """
    k = 20
    nb = NEARDUP_BLOCKS
    emb = (
        load(spark, sf_dir, "embeddings")
        # same boundary as similarity._as_double (oracle has the
        # matching len > 0): NULL/empty vectors never reach np.stack.
        # NaN/NULL elements are excluded SYMMETRICALLY with the oracle:
        # the kernel ranks a NaN dot as -inf (dropped) while DuckDB
        # sorts NaN first, so such vectors must not reach either side.
        .filter(F.size("embedding") > 0)
        .filter(~F.exists("embedding", lambda x: x.isNull() | F.isnan(x)))
        .select("vec_id", "embedding")
    )
    blk = emb.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int")
    )
    # A-operand: block ba serves every pair (ba, bb >= ba).
    a_side = blk.select(
        F.col("blk").alias("ba"),
        F.explode(F.sequence(F.col("blk"), F.lit(nb - 1))).alias("bb"),
        "vec_id",
        "embedding",
        F.lit(0).alias("operand"),
    )
    # B-operand: block bb serves every pair (ba <= bb, bb).
    b_side = blk.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ba"),
        F.col("blk").alias("bb"),
        "vec_id",
        "embedding",
        F.lit(1).alias("operand"),
    )

    pairs = (
        a_side.unionByName(b_side)
        .groupBy("ba", "bb")
        .applyInPandas(
            lambda key, pdf: _block_pair_topk(key, pdf, k),
            "id_a long, id_b long, dot double",
        )
    )
    return (
        pairs.orderBy(F.col("dot").desc(), "id_a", "id_b")
        .limit(k)
        .select("id_a", "id_b", F.round("dot", 6).alias("cosine"))
    )


CC_MAX_ITERS = 20

# The DuckDB CC oracle used to be a recursive-CTE transitive closure
# (`reach(node, lbl)`), whose intermediate is O(n * m) rows — it
# explodes on the 425k-edge sf0.1 graph and forced the sf0.1 parity
# sweep to skip both CC keys (VERDICT r8 item 2). Mirror the Spark
# algorithm instead: bounded-round min-label propagation with pointer
# doubling as a CHAINED (non-recursive) CTE pipeline — the same
# technique the q_llm_bpe_train oracle uses for its merge rounds. Each
# round is one self-join (pointer jump) + one edge join + groupBy
# (neighbor min), all O(m); CC_ORACLE_ROUNDS rounds of doubling reach
# components of diameter ~2**CC_ORACLE_ROUNDS, vastly beyond any
# near-dup cluster (near-cliques, observed diameter <= 3; the Spark
# side raises past CC_MAX_ITERS on the same principle).
CC_ORACLE_ROUNDS = 10


def _cc_oracle_ctes(rounds: int = CC_ORACLE_ROUNDS) -> tuple[str, str]:
    """Emit chained CTEs computing min-label CC over an in-scope
    ``edges(src, dst)`` CTE (both orientations, deduplicated). Returns
    ``(ctes_sql, final_name)`` where the final CTE is (node, label)."""
    # Every CTE is AS MATERIALIZED: DuckDB otherwise INLINES each
    # reference, and with l{r} referencing j{r} twice and j{r}
    # referencing l{r-1} twice the expansion is 2**rounds copies of the
    # whole simhash/band/pair pipeline (first attempt died with "too
    # many open files" re-reading documents.parquet ~1000x).
    parts = [
        """l0 AS MATERIALIZED (
            SELECT src AS node, least(src, min(dst)) AS label
            FROM edges GROUP BY src
        )"""
    ]
    for r in range(1, rounds + 1):
        prev = f"l{r - 1}"
        parts.append(
            f"""j{r} AS MATERIALIZED (
            SELECT x.node, least(x.label, coalesce(y.label, x.label)) AS label
            FROM {prev} x LEFT JOIN {prev} y ON x.label = y.node
        ),
        n{r} AS MATERIALIZED (
            SELECT e.dst AS node, min(j.label) AS nbr
            FROM edges e JOIN j{r} j ON e.src = j.node
            GROUP BY e.dst
        ),
        l{r} AS MATERIALIZED (
            SELECT j.node, least(j.label, coalesce(n.nbr, j.label)) AS label
            FROM j{r} j LEFT JOIN n{r} n ON j.node = n.node
        )"""
        )
    # Convergence guard (ADVICE r9): the bounded-round oracle is exact
    # ONLY when the final round was a fixed point (l{rounds} ==
    # l{rounds-1}) — a pathological long-path graph would otherwise make
    # the ORACLE wrong and surface as an inscrutable parity failure. One
    # cheap join; error() fails the oracle loudly with the actual cause.
    parts.append(
        f"""cc_conv AS MATERIALIZED (
            SELECT f.node,
                   CASE WHEN (SELECT count(*) FROM l{rounds} a
                              JOIN l{rounds - 1} b
                                ON a.node = b.node AND a.label <> b.label) > 0
                        THEN error('CC oracle under-converged after {rounds} '
                                   'pointer-doubling rounds (component '
                                   'diameter beyond doubled reach) - raise '
                                   'CC_ORACLE_ROUNDS')
                        ELSE f.label END AS label
            FROM l{rounds} f
        )"""
    )
    return ",\n        ".join(parts), "cc_conv"


_CC_CTES, _CC_FINAL = _cc_oracle_ctes()


@query(
    "q_llm_dedup_clusters",
    oracle=f"""
        WITH s AS (
            {SIMHASH_ORACLE_CTE.format(where="")}
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band, (simhash >> {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK} AS bv FROM s" for b in range(SIMHASH_BANDS))}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
        ),
        edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        {_CC_CTES},
        cc AS (
            SELECT node AS doc_id, label AS cluster_id FROM {_CC_FINAL}
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cc
    """,
    description="Near-dup clusters: connected components (iterative min-label propagation) over banded-SimHash pair edges",
    tags=("llm", "dedup", "graph", "iterative"),
)
def q_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate graph — the step a
    real dedup pipeline runs AFTER pair generation, because near-dup is
    not transitive (A~B, B~C, A!~C) and "drop one of each pair" both
    over- and under-deletes. Cluster id = min doc_id reachable through
    banded-SimHash edges; keep-one-per-cluster is then a trivial filter.

    Algorithm: iterative min-label propagation. Each round every node
    takes the min of its own label and its neighbors' labels — one
    shuffle join + one groupBy per round — and converges in
    graph-diameter rounds (dup clusters are near-cliques, so 2-3 in
    practice; hard cap {CC_MAX_ITERS}). This is the simple member of
    the large-star/small-star family (Kiveris et al., "Connected
    Components in MapReduce"), which cuts rounds to O(log n) at
    planetary scale with the same join-agg building blocks.

    Driver involvement per round: ONE scalar (count of changed labels)
    for the convergence test, plus `localCheckpoint` to truncate the
    growing lineage — the standard iterative-DataFrame pattern (on a
    cluster, `checkpoint()` to durable storage instead). The DuckDB
    oracle computes the same components with a recursive CTE, so the
    iterative result is value-checked, not just shape-checked.
    """
    from pyspark.sql import Window

    labels = _cc_labels(spark, sf_dir)
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@shared("dedup.labels", payer="q_llm_dedup_clusters", reads=("dedup.pairs",))
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation over the banded-SimHash edge set (see
    q_llm_dedup_clusters docstring): returns (node, label) for every
    node that appears in at least one near-dup pair.

    Memoized per (live session, sf_dir): the result is already a
    localCheckpoint-backed DataFrame (lineage truncated, blocks owned
    by this session), so handing the same handle to both
    q_llm_dedup_clusters and q_llm_dedup_keep skips the second
    pair-gen + CC iteration entirely — the production "persist labels
    once, reuse downstream" shape, scoped to the session the blocks
    live in. The cache dies with the session object; `catalog.
    clearCache()` does not touch checkpoint blocks, so a memoized
    handle stays valid between queries in one suite/bench run."""
    pairs = _simhash_banded_pairs(spark, sf_dir).select("id_a", "id_b")
    return propagate_min_labels(pairs)


def propagate_min_labels(
    pairs: DataFrame,
    max_iters: int = CC_MAX_ITERS,
    sym: DataFrame | None = None,
    adj: DataFrame | None = None,
    build=None,
) -> DataFrame:
    """Min-label propagation over an undirected pair set ``(id_a,
    id_b)`` with ``id_a != id_b``: returns ``(node, label)`` for every
    node incident to at least one pair, where label = min node id in
    the node's connected component.

    Each round does two things: (1) pointer doubling — jump every
    node's label to its label's label (Shiloach-Vishkin shortcutting:
    one self-join of the small (node, label) table), then (2) take the
    min over neighbors' jumped labels (one edge join + groupBy). The
    doubling halves pointer-chain depth each round, so convergence is
    O(log diameter) instead of diameter — a path of 2^20 nodes fits in
    the default cap, where plain propagation would need a million
    rounds. Labels only decrease and always stay inside the node's own
    component (both steps take minima over component members), so the
    fixpoint is the component min; the property tests pin the loop
    against a union-find oracle on arbitrary graphs. Hitting
    ``max_iters`` without converging would mean SILENTLY wrong labels
    downstream, so it raises instead.

    ``build`` (r16): optional hint applied to the NODE-sized state
    side of each per-round join (graph callers pass the heap-gated
    broadcast/shuffle-hash builder from operators.graph); without it
    the checkpointed rounds plan stat-less sort-merge joins one decade
    past the fixtures — the sf1 ramp cliff."""
    # No distinct here (VERDICT r7 item 6): the caller contract is a
    # DEDUPLICATED pair set with id_a != id_b (the banded pair table is
    # id_a < id_b distinct by construction), so the two orientations
    # cannot collide and the old `.distinct()` was a pure extra shuffle
    # of 2x the edge set — measured 1.1-1.7 s of the 7 s sf0.1 run.
    # Duplicate edges from a sloppier caller would only repeat min()
    # messages (cost, never correctness): min is idempotent.
    # A caller already holding a MATERIALIZED symmetric (src, dst)
    # adjacency of the same pair set (operators/graph.sym_edges) passes
    # it via ``sym`` and skips this derivation + eager checkpoint —
    # one fewer materialization of the 2x edge table per propagation
    # (r13 graph CPU diet). A caller ALSO holding the grouped
    # adjacency-ARRAY layout (operators/graph.adj_arrays, r14) passes
    # it via ``adj``: the neighbor-min round then joins the node-sized
    # label table against the node-sized array table and explodes the
    # neighbor lists INSIDE the stage, so the E-row edge table never
    # crosses a per-round shuffle — the same rewrite that took
    # pagerank's 5 rounds from 34.5 to 1.1 executor-CPU-s at sf0.1.
    # Derived only on the paths that read it: with ``adj`` supplied both
    # the init and every round run on the array layout, so an adj-only
    # caller must not pay an eager 2x-edge materialization it never
    # uses (ADVICE r14).
    if adj is None:
        edges = (
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(
                    F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                )
            )
            .localCheckpoint()
            if sym is None
            else sym
        )
    # Init = round 1 fused: with identity labels, the first neighbor-min
    # is just min(neighbor ids), computable as ONE groupBy on the edge
    # table — no label join, no checkpoint round (or, on the array
    # layout, ZERO shuffles: array_min per node row). Every node
    # appears as src (both orientations), so this also enumerates the
    # node set.
    if adj is not None:
        labels = adj.select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.array_min("ns")).alias("label"),
        )
    else:
        labels = edges.groupBy("src").agg(F.min("dst").alias("mn")).select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
    if build is None:
        build = lambda df: df  # noqa: E731 — identity for non-graph callers
    for _ in range(max_iters):
        jumped = (
            labels.alias("x")
            .join(
                build(labels.alias("y")),
                F.col("x.label") == F.col("y.node"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.col("x.label").alias("old_label"),
                F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("y.label"), F.col("x.label")),
                ).alias("label"),
            )
        )
        if adj is not None:
            nbr = (
                adj.join(build(jumped), adj["src"] == jumped["node"])
                .select(F.explode("ns").alias("dst"), "label")
                .groupBy("dst")
                .agg(F.min("label").alias("nbr_label"))
            )
        else:
            nbr = (
                edges.join(jumped, edges["src"] == jumped["node"])
                .select("dst", "label")
                .groupBy("dst")
                .agg(F.min("label").alias("nbr_label"))
            )
        # Change detection rides the same row (`chg`) and compares
        # against the PRE-jump label, so each round is exactly two
        # jobs: the checkpoint materialization and a cheap count over
        # the checkpointed result — no extra old-vs-new join.
        stepped = (
            jumped.join(build(nbr), jumped["node"] == nbr["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("new_label"),
                (
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    )
                    < F.col("old_label")
                ).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter("chg").count()
        labels = stepped.select(F.col("node"), F.col("new_label").alias("label"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min-label propagation did not converge in {max_iters} rounds "
        "even with pointer doubling (diameter > 2^max_iters is not a "
        "real graph) — do not trust these labels"
    )


@query(
    "q_llm_dedup_keep",
    oracle=f"""
        WITH s AS (
            {SIMHASH_ORACLE_CTE.format(where="")}
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band, (simhash >> {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK} AS bv FROM s" for b in range(SIMHASH_BANDS))}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
        ),
        edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        {_CC_CTES},
        dropped AS (
            SELECT node AS doc_id FROM {_CC_FINAL} WHERE label <> node
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT)  AS n_docs,
               CAST(count(*) - count(x.doc_id) AS BIGINT) AS n_kept,
               CAST(count(x.doc_id) AS BIGINT)            AS n_dropped,
               CAST(sum(CASE WHEN x.doc_id IS NULL
                             THEN CAST(ceil(length(d.text) / 4.0) AS BIGINT)
                             ELSE 0 END) AS BIGINT)       AS tokens_kept
        FROM documents d LEFT JOIN dropped x ON d.doc_id = x.doc_id
        GROUP BY d.source
    """,
    description="Dedup keep-one: canonical doc per near-dup cluster survives, per-source funnel of the kept corpus",
    tags=("llm", "dedup", "graph"),
)
def q_llm_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last step: materialize the KEPT corpus.
    Cluster id = min reachable doc_id, so the canonical survivor of a
    cluster is exactly the node whose label equals itself; every other
    clustered node drops. Non-clustered docs (no near-dup edge) pass
    through untouched — pair emission alone would over-delete them.

    Scale shape: the drop set (cluster members minus canonicals) is a
    small fraction of the corpus by construction, so it broadcasts
    into a left join against the full documents scan; the CC labels
    are the q_llm_dedup_clusters iteration reused as a library
    function. One full scan + one broadcast + one per-source
    aggregation."""
    labels = _cc_labels(spark, sf_dir)
    dropped = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("is_dup")
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.ceil(F.length("text") / 4.0).alias("toks")
    )
    flagged = docs.join(F.broadcast(dropped), "doc_id", "left").withColumn(
        "kept", F.col("is_dup").isNull()
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        F.sum(F.when(F.col("kept"), F.col("toks")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


# Incremental (delta) dedup: the production cadence is not "dedup the
# corpus once" but "dedup TODAY'S batch against the standing index".
# The fixture models it with a strided slice as the arriving batch.
INCR_BATCH_MOD = 10
INCR_BATCH_REM = 7


@query(
    "q_llm_dedup_incremental",
    oracle=f"""
        WITH s AS (
            {SIMHASH_ORACLE_CTE.format(where="")}
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band, (simhash >> {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK} AS bv FROM s" for b in range(SIMHASH_BANDS))}
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid,
                   bit_count(xor(n.simhash, c.simhash)) AS hamming
            FROM bands n JOIN bands c
              ON n.band = c.band AND n.bv = c.bv
            WHERE n.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
              AND c.doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}
              AND bit_count(xor(n.simhash, c.simhash)) <= {SIMHASH_HAMMING_MAX}
        ),
        agg AS (
            SELECT nid,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   min(hamming)             AS min_hamming
            FROM cand GROUP BY nid
        )
        SELECT d.doc_id,
               coalesce(a.n_matches, CAST(0 AS BIGINT)) AS n_matches,
               a.min_hamming                            AS min_hamming
        FROM (SELECT doc_id FROM documents
              WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}) d
        LEFT JOIN agg a ON a.nid = d.doc_id
    """,
    description="Incremental dedup: probe an arriving batch against the standing corpus index (banded SimHash, batch broadcast)",
    tags=("llm", "dedup", "simhash", "incremental"),
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta dedup — the shape a crawl pipeline actually runs daily:
    the ARRIVING batch (modeled as the doc_id % 10 == 7 slice) is
    checked against the STANDING corpus index (everything else), and
    every batch doc comes back with its corpus near-dup match count
    and closest Hamming distance (0 matches -> NULL distance), so the
    admit/reject decision is one filter on the result.

    Scale shape — the asymmetry is the whole point: the corpus band
    table is write-once storage probed in place (here derived from the
    same scan; in production it is the persisted signature index), and
    the BATCH side — tiny relative to the index, ~10% here, ~0.01% for
    a daily crawl against a year's corpus — is the broadcast side of
    the band join, so the index never shuffles and never rescans more
    than the probed band buckets. The hamming test runs inside the
    join (far pairs die before the distinct), exactly like
    q_llm_simhash_banded; the final left join back onto the batch keeps
    0-match docs in the output so the NEGATIVE side of the contract
    (genuinely novel documents) is value-checked too."""
    s = simhash_signatures(spark, sf_dir)
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.expr(f"concat('{b}:', shiftright(simhash, {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK})")
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_REM
    batch_bands = bands.filter(is_batch)
    corpus_bands = bands.filter(~is_batch)
    n, c = batch_bands.alias("n"), corpus_bands.alias("c")
    matches = (
        c.join(F.broadcast(n), F.col("n.band_key") == F.col("c.band_key"))
        .select(
            F.col("n.doc_id").alias("nid"),
            F.col("c.doc_id").alias("cid"),
            F.expr("bit_count(n.simhash ^ c.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
        .groupBy("nid")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("hamming").alias("min_hamming"),
        )
    )
    batch_docs = (
        load(spark, sf_dir, "documents").filter(is_batch).select("doc_id")
    )
    return batch_docs.join(
        F.broadcast(matches), batch_docs["doc_id"] == matches["nid"], "left"
    ).select(
        "doc_id",
        F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
        "min_hamming",
    )


@query(
    "q_llm_ngram_containment",
    oracle="""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, length(coalesce(text, '')) - 1),
                       i -> substr(coalesce(text, ''), i, 3))) AS s
            FROM documents
            WHERE doc_id < 150
        ),
        ex AS (
            SELECT DISTINCT doc_id, unnest(s) AS g FROM sh
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(greatest(
                   len(list_intersect(sa.s, sb.s)) / CAST(len(sa.s) AS DOUBLE),
                   len(list_intersect(sa.s, sb.s)) / CAST(len(sb.s) AS DOUBLE)
               ), 6) AS containment
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE len(sa.s) > 0 AND len(sb.s) > 0
          AND greatest(
                  len(list_intersect(sa.s, sb.s)) / CAST(len(sa.s) AS DOUBLE),
                  len(list_intersect(sa.s, sb.s)) / CAST(len(sb.s) AS DOUBLE)
              ) >= 0.5
        ORDER BY containment DESC, id_a, id_b
        LIMIT 20
    """,
    description="n-gram containment (asymmetric near-dup): |A∩B|/min-side via inverted-index candidates",
    tags=("llm", "dedup", "containment"),
)
def q_llm_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard under-scores subset duplication (a paragraph quoted
    inside a much larger doc): containment |A∩B|/|A| stays 1.0 however
    big B grows, which is why corpus pipelines track both. Candidates
    come from an inverted-index join on shared shingles — only pairs
    sharing ≥1 n-gram are ever scored, never all-pairs — then ONE
    rejoin per side fetches the shingle arrays and the score is
    row-local JVM array math. At 100 TB the candidate join is the
    standard hot-shingle skew risk, bounded exactly like
    q_llm_boilerplate's hot-line set (drop top-frequency shingles —
    they carry no discrimination). The doc_id < 150 slice is the
    oracle tier, same convention as q_llm_ngram_jaccard/simhash."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .withColumn("text", F.coalesce("text", F.lit("")))
    )
    sh = docs.select("doc_id", F.expr(SHINGLES_EXPR).alias("s"))
    ex = sh.select("doc_id", F.explode("s").alias("g")).distinct()
    cand = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    ni = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    score = F.greatest(
        ni / F.size(F.col("sa.s")).cast("double"),
        ni / F.size(F.col("sb.s")).cast("double"),
    )
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("id_b"))
        .filter((F.size(F.col("sa.s")) > 0) & (F.size(F.col("sb.s")) > 0))
        .filter(score >= 0.5)
        .select("id_a", "id_b", F.round(score, 6).alias("containment"))
        .orderBy(F.col("containment").desc(), "id_a", "id_b")
        .limit(20)
    )


_PASSAGE_WORDS = 12

_PASSAGE_HASHES_EXPR = (
    "transform("
    f" sequence(0, cast(ceil(size(words) / {_PASSAGE_WORDS}.0) as int) - 1),"
    f" i -> md5(array_join(slice(words, i * {_PASSAGE_WORDS} + 1, {_PASSAGE_WORDS}), ' ')))"
)


@query(
    "q_llm_passage_dedup",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   string_split_regex(lower(coalesce(text, '')), ' +') AS words
            FROM documents
        ),
        p AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(words) / {_PASSAGE_WORDS}.0) AS BIGINT)),
                       i -> md5(array_to_string(
                           words[i * {_PASSAGE_WORDS} + 1 : i * {_PASSAGE_WORDS} + {_PASSAGE_WORDS}],
                           ' ')))) AS ph
            FROM w
        ),
        hot AS (
            SELECT ph FROM p GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT doc_id,
               count(*) AS n_passages,
               CAST(sum(CASE WHEN hot.ph IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_passages,
               round(sum(CASE WHEN hot.ph IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        FROM p LEFT JOIN hot ON p.ph = hot.ph
        GROUP BY doc_id
    """,
    description="Passage-level dedup: fixed word-window hashes, cross-doc duplicated-passage fraction",
    tags=("llm", "dedup", "passage"),
)
def q_llm_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level dedup misses the passage copied into otherwise
    distinct pages (the dominant duplication mode in web corpora — Lee
    et al., "Deduplicating Training Data Makes Language Models Better",
    adapted from suffix-array substrings to disjoint 12-word windows).
    Passages are cut ROW-LOCALLY with sequence+slice HOFs (no explode
    until hashes exist, so the shuffle carries 32-char md5s, never
    text), the cross-doc hot set is one count-distinct aggregation,
    and the per-doc duplicated fraction is a left-semi-shaped join
    back. At 100 TB both wide deps key on the passage hash —
    uniformly distributed by construction, no skew salt needed."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "words", F.split(F.lower(F.coalesce("text", F.lit(""))), " +")
    )
    p = docs.select(
        "doc_id", F.explode(F.expr(_PASSAGE_HASHES_EXPR)).alias("ph")
    )
    hot = (
        p.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ph")
    )
    flagged = p.join(hot.withColumn("is_hot", F.lit(1)), "ph", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.coalesce("is_hot", F.lit(0))).cast("long").alias("n_dup_passages"),
        F.round(
            F.sum(F.coalesce("is_hot", F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_fraction"),
    )


# --- SemDeDup-style embedding-cluster dedup ---------------------------------
#
# Deterministic sign-bit "clusters": 6 fixed hyperplanes whose components
# are md5-derived unit fractions, computed ONCE here in Python and inlined
# as decimal literals into BOTH the Spark plan and the DuckDB oracle — so
# unlike q_llm_sim_topk_lsh (numpy-seeded planes, rows-only check), this
# bucketed embedding op is fully oracle-checkable. Literals are rounded to
# 6dp so both engines parse identical doubles.
SEMDEDUP_N_PLANES = 6
SEMDEDUP_DIM = 64
# The fixture's synthetic embeddings have no true near-duplicates (max
# within-bucket cosine ~0.55 at sf0.1), so the threshold sits inside the
# observed range to keep the prune path exercised; a production corpus
# uses ~0.95 (SemDeDup, Abbas et al. 2023).
SEMDEDUP_TAU = 0.30


def _semdedup_planes() -> list[list[float]]:
    import hashlib

    return [
        [
            round(
                int(
                    hashlib.md5(f"semdedup_{p}_{d}".encode()).hexdigest()[:4], 16
                )
                / 65536.0
                * 2
                - 1,
                6,
            )
            for d in range(SEMDEDUP_DIM)
        ]
        for p in range(SEMDEDUP_N_PLANES)
    ]


_SD_PLANES = _semdedup_planes()

_SD_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_SD_PLANES[p]}) >= 0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p in range(SEMDEDUP_N_PLANES)
)


@query(
    "q_llm_semdedup",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
            WHERE len(embedding) > 0
              AND len(list_filter(embedding,
                        x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) = 0
        ),
        b AS (
            SELECT vec_id, e, {_SD_BUCKET_SQL} AS bucket FROM v
        ),
        dup AS (
            SELECT a.bucket,
                   a.vec_id AS kept_id,
                   x.vec_id AS dropped_id,
                   round(list_dot_product(a.e, x.e), 6) AS cosine
            FROM b a
            JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
            WHERE round(list_dot_product(a.e, x.e), 6) >= {SEMDEDUP_TAU}
        )
        SELECT bucket, kept_id, dropped_id, cosine
        FROM dup
        QUALIFY row_number() OVER (
            PARTITION BY dropped_id ORDER BY kept_id) = 1
    """,
    description="SemDeDup-style embedding dedup: sign-bit clusters -> within-cluster cosine prune (fully oracle-checked)",
    tags=("llm", "dedup", "embedding"),
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-prune embedding dedup (SemDeDup, Abbas et al. 2023):
    vectors land in sign-bit buckets of 6 fixed hyperplanes, pairwise
    cosine runs ONLY within a bucket, and a vector is dropped when any
    lower-id bucket-mate scores >= tau (representative = the smallest
    such id). The learned-centroid variant of this shape is
    q_llm_sim_topk_ivf; fixed literal planes trade recall for a fully
    deterministic, oracle-checkable plan.

    Scale shape: the bucket id is row-local JVM column math (zip_with/
    aggregate HOFs over literal arrays — no Python, no shuffle to
    assign), the pair space is bounded by the bucket partition (never
    all-pairs; the equi join on bucket hashes both sides the same
    way), and NaN/NULL vectors are excluded up front on both engines
    for the same reason as q_llm_embed_neardup. At 100 TB the plane
    count H tunes bucket size: pairs per bucket ~ (n / 2^H)^2, and
    the join shuffles only (bucket, id, vector) — no text, no
    metadata."""
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    no_bad = (
        F.size(
            F.filter(
                "embedding",
                lambda x: x.isNull() | F.isnan(x.cast("double")),
            )
        )
        == 0
    )
    v = (
        emb.filter((F.size("embedding") > 0) & no_bad)
        .select("vec_id", as_double.alias("e"))
    )

    def dot(col, lits):
        return F.aggregate(
            F.zip_with(col, F.array(*[F.lit(c) for c in lits]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = None
    for p, plane in enumerate(_SD_PLANES):
        bit = F.when(dot(F.col("e"), plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    b = v.select("vec_id", "e", bucket.alias("bucket"))

    a, x = b.alias("a"), b.alias("x")
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("a.e"), F.col("x.e"), lambda i, j: i * j),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
        6,
    )
    pairs = (
        a.join(
            x,
            (F.col("a.bucket") == F.col("x.bucket"))
            & (F.col("a.vec_id") < F.col("x.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("kept_id"),
            F.col("x.vec_id").alias("dropped_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dropped_id").orderBy("kept_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


WINNOW_K = 4  # token k-gram size
WINNOW_W = 5  # winnowing window (guarantee: every W-run yields a print)


@query(
    "q_llm_winnowing",
    oracle=f"""
        WITH kg AS (
            SELECT doc_id, source,
                   list_transform(
                       range(1, greatest(len(t) - {WINNOW_K - 1}, 1) + 1),
                       i -> md5(array_to_string(t[i : i + {WINNOW_K - 1}], ' '))
                   ) AS kg
            FROM (
                SELECT doc_id, source, string_split(text, ' ') AS t
                FROM documents WHERE text IS NOT NULL
            )
        ),
        fps AS (
            SELECT doc_id, source,
                   list_distinct(list_transform(
                       range(1, greatest(len(kg) - {WINNOW_W - 1}, 1) + 1),
                       j -> list_min(kg[j : j + {WINNOW_W - 1}])
                   )) AS fp
            FROM kg
        )
        SELECT doc_id, source,
               CAST(len(fp) AS BIGINT) AS n_fp,
               list_min(fp)            AS fp_min,
               list_max(fp)            AS fp_max
        FROM fps
        WHERE doc_id % 5 = 0
    """,
    description="Winnowing fingerprints (Schleimer/MOSS): window-min k-gram hashes, guaranteed-density local dedup prints",
    tags=("llm", "dedup", "fingerprint"),
)
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson, Aiken — the MOSS algorithm):
    hash every token {k}-gram, slide a window of {w} hashes, keep each
    window's MINIMUM — the fingerprint set that q_llm_fingerprint's
    plain min/max sketch approximates. The win over "min hash of the
    whole doc" is the DENSITY GUARANTEE: any shared run of
    w + k - 1 tokens between two documents yields at least one shared
    fingerprint, so local (passage-level) overlap is always visible —
    the property plagiarism/contamination detection actually needs.

    Determinism: md5 hex strings ordered lexicographically — an
    engine-identical total order, so the window minima, their distinct
    set, and min/max summaries are all bit-equal with zero rounding.
    Too-short docs degrade like the shared n-gram template
    (ngram_md5_expr): the greatest() guard yields exactly one
    truncated gram / one whole-array window, never a fabricated one.

    Scale shape: entirely ROW-LOCAL — tokenize, k-gram hash, window
    min, distinct: four HOFs in one projection, no shuffle anywhere
    before the output slice (plan-gated: zero exchanges). At 100 TB
    this is the cheapest dedup signal in the family; the fingerprints
    would feed the same banded join the simhash path uses.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    kg = (
        f"transform(sequence(1, greatest(size(t) - {WINNOW_K - 1}, 1)),"
        f" i -> md5(array_join(slice(t, i, {WINNOW_K}), ' ')))"
    )
    fp = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(kg) - {WINNOW_W - 1}, 1)),"
        f" j -> array_min(slice(kg, j, {WINNOW_W}))))"
    )
    return (
        docs.select("doc_id", "source", F.split("text", " ").alias("t"))
        .select("doc_id", "source", F.expr(kg).alias("kg"))
        .select("doc_id", "source", F.expr(fp).alias("fp"))
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            "source",
            F.size("fp").cast("long").alias("n_fp"),
            F.array_min("fp").alias("fp_min"),
            F.array_max("fp").alias("fp_max"),
        )
    )


q_llm_winnowing.__doc__ = q_llm_winnowing.__doc__.format(
    k=WINNOW_K, w=WINNOW_W
)


LSH_AUDIT_SLICE = 60  # doc_id bound for the exact-tier audit


@query(
    "q_llm_lsh_audit",
    oracle=f"""
        WITH tok AS (
            -- coalesce: NULL text must become the empty shingle set on
            -- BOTH engines (DuckDB would otherwise NULL the whole
            -- pipeline and silently drop the doc's pairs where Spark
            -- keeps them with ni = 0)
            SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
            FROM documents WHERE doc_id < {LSH_AUDIT_SLICE}
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS shingles
            FROM tok
        ),
        sig AS (
            SELECT doc_id, shingles,
                   list_transform(range(0, {N_MINHASH}),
                       s -> list_min(list_transform(
                            list_transform(shingles,
                                sh2 -> md5(sh2) || md5('x' || sh2)),
                            h -> substr(h, s * 5 + 1, 5)))) AS sig
            FROM sh
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.shingles, b.shingles)) AS ni,
                   len(list_distinct(list_concat(a.shingles, b.shingles)))
                       AS nu,
                   list_sum(list_transform(range(1, {N_MINHASH + 1}),
                       i -> CASE WHEN a.sig[i] = b.sig[i]
                                 THEN 1 ELSE 0 END)) AS matches
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(ni / CAST(nu AS DOUBLE), 6)            AS true_jaccard,
               round(matches / {float(N_MINHASH)}, 6)       AS est_jaccard,
               round(abs(matches / {float(N_MINHASH)}
                         - ni / CAST(nu AS DOUBLE)), 6)     AS abs_err
        FROM pairs
        WHERE nu > 0
        QUALIFY row_number() OVER (
            ORDER BY ni / CAST(nu AS DOUBLE) DESC, id_a, id_b
        ) <= 20
        ORDER BY true_jaccard DESC, id_a, id_b
    """,
    description="MinHash estimator audit: signature-estimated vs exact word-bigram Jaccard, top-20 true pairs with absolute error",
    tags=("llm", "dedup", "minhash", "audit"),
)
def q_llm_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the MinHash estimate the LSH pipeline trusts? On
    the exact-tier slice, compute TRUE word-bigram Jaccard and the
    12-hash signature estimate for every pair and report the top true
    pairs with the estimator's absolute error — the calibration table
    that justifies (or indicts) the N_MINHASH/band choice before a
    full-corpus run. Uses the exact same shingle/signature
    expressions as q_llm_minhash_lsh, so the audit measures the
    SHIPPED estimator, not a reimplementation.

    Scale shape: all-pairs is the point (exactness tier, bounded
    slice — the q_llm_simhash contract); the full-corpus path stays
    banded. Signatures are computed once per doc before the pair
    join; the join carries (shingles, sig) for {LSH_AUDIT_SLICE}
    docs only."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < LSH_AUDIT_SLICE)
        .select(
            "doc_id",
            F.split(F.coalesce("text", F.lit("")), " ").alias("toks"),
        )
        .select("doc_id", F.expr(WORD_SHINGLES_EXPR).alias("shingles"))
        .select(
            "doc_id",
            "shingles",
            F.expr(SIG_EXPR).alias("hs"),
        )
        .select("doc_id", "shingles", F.expr(MIN_EXPR).alias("sig"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    ni = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    nu = F.size(
        F.array_distinct(F.concat(F.col("a.shingles"), F.col("b.shingles")))
    )
    matches = F.expr(
        f"aggregate(transform(sequence(1, {N_MINHASH}),"
        " i -> if(element_at(a.sig, i) = element_at(b.sig, i), 1, 0)),"
        " 0, (acc, x) -> acc + x)"
    )
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ni.alias("ni"),
            nu.alias("nu"),
            matches.alias("matches"),
        )
        .filter(F.col("nu") > 0)
    )
    true_j = F.col("ni") / F.col("nu").cast("double")
    est_j = F.col("matches") / F.lit(float(N_MINHASH))
    # Rank on the RAW division (a single IEEE op, bit-identical across
    # engines — the oracle's QUALIFY does the same) so the top-20 cut
    # can never differ where two raw values round to the same 6dp.
    return (
        pairs.select(
            "id_a",
            "id_b",
            true_j.alias("_raw"),
            F.round(true_j, 6).alias("true_jaccard"),
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(F.abs(est_j - true_j), 6).alias("abs_err"),
        )
        .orderBy(F.col("_raw").desc(), "id_a", "id_b")
        .limit(20)
        .drop("_raw")
    )
