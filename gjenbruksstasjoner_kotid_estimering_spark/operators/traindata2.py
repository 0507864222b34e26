"""Training-data pipeline operators, round 3.

The remaining corpus-curation stages a production LLM data pipeline runs
that rounds 1-2 didn't cover (plans/text.py quality lane,
operators/dedup.py near-dup lane, operators/traindata.py packing/PII
lane):

- ``text_decontaminate``       eval-set n-gram contamination removal
- ``dedup_incremental``        new-crawl-batch dedup against the corpus
- ``sample_stratified_exact``  deterministic per-stratum sampling (no RNG)
- ``corpus_mixture_weights``   per-source resampling to a target mixture
- ``doc_chunk_overlap``        sliding-window chunking with provenance
- ``multimodal_binary_stats``  BinaryType length/digest/magic-byte ops
- ``text_winnow_fingerprints`` MOSS winnowing local fingerprints
- ``dedup_winnow_pairs``       copy-span dup pairs over those fingerprints

All eight are oracle-checked: every hash is md5 (the Spark∩DuckDB
portable digest, same trick as dedup_ngram_jaccard), ratios are single
double divisions of exact integer counts in identical operand order on
both engines, and n-gram/window generation mirrors the shared CTE
constants so the derivations can't drift between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import md5_long_col
from ..functions.text import token_count_col, tokens_col
from ..io import fan_out, load_table
from ..registry import register
from .dedup import shingles_col

# Benchmark membership for decontamination: every 97th doc plays the role
# of an evaluation/benchmark document. In production this side is the
# actual eval suites (MMLU/GSM8K/...), always tiny relative to the corpus
# — which is why the gram set broadcasts.
BENCH_MOD = 97
DECONTAM_K = 3  # synthetic corpus is short random text; real pipelines use 8-13

# Deterministic stratified sampling rates (percent kept per lang stratum).
SAMPLE_RATES: dict[str, int] = {"en": 50, "zh": 25}
SAMPLE_RATE_DEFAULT = 10


def _md5_bucket(col: Column) -> Column:
    """Deterministic 0-99 bucket from md5 (portable across Spark/DuckDB)."""
    return md5_long_col(col.cast("string")) % 100


@register(
    "text_decontaminate",
    oracle=f"""
        WITH toks AS (
          -- mirror tokens_col exactly (\\s+ split, empty -> []): plain
          -- string_split(text, ' ') would diverge on consecutive spaces,
          -- tabs or newlines
          SELECT doc_id,
                 CASE WHEN text = '' THEN []
                      ELSE string_split_regex(text, '\\s+') END AS t
          FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   list_transform(t,
                     (x, i) -> CASE WHEN i + {DECONTAM_K - 1} <= len(t)
                               THEN x || ' ' || t[i + 1] || ' ' || t[i + 2]
                               END),
                   y -> y IS NOT NULL)) AS gs
          FROM toks
        ),
        bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams
               WHERE doc_id % {BENCH_MOD} = 0),
        dg AS (SELECT doc_id, unnest(gs) AS g FROM grams
               WHERE doc_id % {BENCH_MOD} <> 0)
        SELECT dg.doc_id,
               CAST(count(DISTINCT dg.g) AS BIGINT) AS n_contaminated_ngrams
        FROM dg JOIN bg ON dg.g = bg.g
        GROUP BY dg.doc_id
    """,
    doc="Benchmark decontamination: flag corpus documents sharing any "
    f"word {DECONTAM_K}-gram with the benchmark set (doc_id % {BENCH_MOD} "
    "== 0 stands in for the eval suites). Scale shape: the benchmark gram "
    "set is tiny → broadcast hash join against the exploded corpus grams; "
    "the corpus side never shuffles. Real pipelines use 8-13-grams; k=3 "
    "here because the synthetic corpus is short random text.",
    tags=("text", "decontamination", "traindata"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    grams = d.select(
        "doc_id",
        F.explode(shingles_col(F.col("text"), k=DECONTAM_K)).alias("g"),
    )
    bench = (
        grams.where(F.col("doc_id") % BENCH_MOD == 0).select("g").distinct()
    )
    # count, not countDistinct: shingles_col is array_distinct per doc, so
    # the values are identical — but countDistinct would force an extra
    # corpus-wide (doc_id, g) dedup exchange, while count partial-aggregates
    # map-side and shuffles only doc-sized partial counts.
    return (
        grams.where(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("g").alias("n_contaminated_ngrams"))
    )


@register(
    "dedup_incremental",
    oracle="""
        WITH d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        existing AS (SELECT DISTINCT fp FROM d
                     WHERE source IN ('src0', 'src1')),
        novel AS (
          -- NOT EXISTS, not NOT IN: mirrors Spark's left_anti under NULL
          -- fingerprints (md5 of a NULL text); NOT IN would null out the
          -- whole predicate instead
          SELECT d.* FROM d
          WHERE source NOT IN ('src0', 'src1')
            AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = d.fp)
        )
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp
        FROM novel GROUP BY fp
    """,
    doc="Incremental dedup: a new crawl batch (source NOT IN src0/src1) is "
    "deduped against the already-ingested corpus (src0/src1) by exact "
    "md5 fingerprint — anti join on the fingerprint — then within itself "
    "(min doc_id per fingerprint). The production shape for daily "
    "ingestion: the existing corpus contributes only its fingerprint "
    "column (8-byte-ish shuffle payload), never the text, and nothing is "
    "re-deduped from scratch.",
    tags=("dedup", "incremental", "traindata"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the fingerprint projection once: the existing-corpus
    # side and the new-batch side carry DISJOINT source filters, but each
    # side's scan still decodes the full text column to md5 it (2 full
    # text decodes, measured r17). The materialized frame is ~50
    # bytes/doc (no text) — the classic shuffle-keys-not-payloads shape.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    ).localCheckpoint(eager=False)
    is_existing = F.col("source").isin("src0", "src1")
    existing = d.where(is_existing).select("fp").distinct()
    novel = d.where(~is_existing).join(existing, "fp", "left_anti")
    return novel.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", "fp"
    )


@register(
    "sample_stratified_exact",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              % 100
              < CASE lang WHEN 'en' THEN {SAMPLE_RATES["en"]}
                          WHEN 'zh' THEN {SAMPLE_RATES["zh"]}
                          ELSE {SAMPLE_RATE_DEFAULT} END
    """,
    doc="Deterministic stratified sampling: keep N% per lang stratum "
    "(en 50 / zh 25 / rest 10) by thresholding an md5-derived 0-99 bucket "
    "of the doc id — no RNG, so the sample is identical run-to-run and "
    "engine-to-engine (unlike sampleBy, whose seed semantics are "
    "engine-private — cf. the rows-only sampleBy variant "
    "sample_stratified). Pure narrow projection+filter: zero shuffles at "
    "any scale, filter pushes to the scan.",
    tags=("sampling", "traindata"),
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES["en"])).when(
        F.col("lang") == "zh", F.lit(SAMPLE_RATES["zh"])
    ).otherwise(F.lit(SAMPLE_RATE_DEFAULT))
    return d.where(_md5_bucket(F.col("doc_id")) < rate).select(
        "doc_id", "lang", "source"
    )


@register(
    "corpus_mixture_weights",
    oracle="""
        WITH per_src AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN text = '' THEN 0
                          ELSE len(string_split_regex(text, '\\s+')) END)
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(count(*) AS BIGINT) AS n_sources
          FROM per_src
        )
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                 AS share,
               (1.0 / CAST(n_sources AS DOUBLE))
                 / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
                 AS weight
        FROM per_src, tot
    """,
    doc="Data-mixture weighting: per-source token counts, corpus share, "
    "and the resampling weight that equalizes the mixture (target = "
    "uniform across sources; weight = target_share / actual_share — >1 "
    "upsample, <1 downsample). The knob every LLM pretraining run tunes. "
    "Shape: one partial-aggregated groupBy on source + a broadcast 1-row "
    "totals join; float ops in identical operand order on both engines so "
    "the driver hash matches exactly.",
    tags=("traindata", "mixture"),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Materialize the source-cardinality aggregate once: the totals row
    # and the final projection both consume it, and each consumer re-ran
    # the full-corpus tokenize+count from its own scan (2 passes,
    # measured r17).
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col("text"))).alias("n_tokens"),
    ).localCheckpoint(eager=False)
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens").cast(
        "double"
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("share"),
        ((F.lit(1.0) / F.col("n_sources").cast("double")) / share).alias(
            "weight"
        ),
    )


CHUNK_SIZE = 32  # tokens per chunk (short synthetic docs; prod: 512-8192)
CHUNK_STRIDE = 24  # overlap = CHUNK_SIZE - CHUNK_STRIDE tokens


@register(
    "doc_chunk_overlap",
    oracle=f"""
        WITH toks AS (
          -- mirror tokens_col: empty string -> [] (string_split_regex('')
          -- would give [''], i.e. one phantom token)
          SELECT doc_id,
                 CASE WHEN text = '' THEN []
                      ELSE string_split_regex(text, '\\s+') END AS t
          FROM documents
        ),
        starts AS (
          -- zero-token documents produce NO chunks (mirror the Spark-side
          -- when(size(toks) > 0) guard)
          SELECT doc_id, t,
                 unnest(range(1, greatest(len(t) - {CHUNK_SIZE}, 0)
                                 + {CHUNK_STRIDE} + 1, {CHUNK_STRIDE})) AS s
          FROM toks
          WHERE len(t) > 0
        )
        SELECT doc_id,
               CAST((s - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(least({CHUNK_SIZE}, len(t) - s + 1) AS BIGINT)
                 AS n_tokens,
               array_to_string(t[s:least(s + {CHUNK_SIZE} - 1, len(t))], ' ')
                 AS chunk_text
        FROM starts
    """,
    doc=f"Sliding-window chunking: each document becomes ceil-strided "
    f"chunks of {CHUNK_SIZE} tokens with {CHUNK_SIZE - CHUNK_STRIDE}-token "
    "overlap (the RAG-index / pretraining-context chunker). Pure JVM "
    "sequence+slice+explode — one Generate, no shuffle at all; chunk "
    "provenance (doc_id, chunk_id) survives for span rehydration. The "
    "final partial chunk is kept (standard: trailing tokens must land in "
    "some context window).",
    tags=("text", "chunking", "traindata"),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = tokens_col(F.col("text"))
    # last start = 1 + ceil((n - CHUNK_SIZE)/stride)*stride: one window past
    # full coverage, so trailing tokens land in a final partial chunk.
    # Zero-token documents produce NO chunks (not one empty chunk — an
    # empty chunk_text row would pollute downstream packing).
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(
            F.lit(1),
            F.greatest(F.size(toks) - CHUNK_SIZE, F.lit(0))
            + F.lit(CHUNK_STRIDE),
            F.lit(CHUNK_STRIDE),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        d.select("doc_id", toks.alias("t"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            ((F.col("s") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.least(
                F.lit(CHUNK_SIZE), F.size("t") - F.col("s") + 1
            ).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice("t", F.col("s"), F.lit(CHUNK_SIZE))
            ).alias("chunk_text"),
        )
    )


@register(
    "multimodal_binary_stats",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest,
               lower(substring(hex(encode(text)), 1, 8)) AS head_hex,
               CASE WHEN substring(hex(encode(text)), 1, 2) IN ('FF', '89')
                    THEN 'image-magic' ELSE 'other' END AS kind
        FROM documents
    """,
    doc="Opaque-binary column operations — the multimodal lane's typed-"
    "metadata path made oracle-exact: byte length, content digest, and "
    "magic-byte sniffing (the dispatch a mixed image/audio/text corpus "
    "does before routing blobs to a decoder) over a BinaryType column. "
    "The binary payload here is the UTF-8 encoding of documents.text so "
    "both engines see identical bytes; real blobs flow through the same "
    "expressions (sources/images.py handles the actual image fixture "
    "lane). Pure projection: zero shuffles, codegen end to end.",
    tags=("multimodal", "binary"),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bin_col = F.encode("text", "UTF-8")
    # hex only the sniffed prefix bytes, never the whole blob: hex(blob) is
    # a 2x-payload string allocation per row, and magic-byte dispatch only
    # needs the head (hex(substring(b,1,4)) == substring(hex(b),1,8))
    head = F.hex(F.substring(bin_col, 1, 4))
    return d.select(
        "doc_id",
        F.length(bin_col).cast("long").alias("n_bytes"),
        F.md5(bin_col).alias("digest"),
        F.lower(head).alias("head_hex"),
        F.when(
            F.hex(F.substring(bin_col, 1, 1)).isin("FF", "89"),
            F.lit("image-magic"),
        ).otherwise(F.lit("other")).alias("kind"),
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS algorithm):
# positional k-gram hashes, min per sliding window, distinct mins = the
# document's local fingerprints. Guarantees any shared substring of length
# >= WINNOW_W + WINNOW_K - 1 tokens produces a shared fingerprint —
# substring-level dup detection, vs the whole-doc fold of fingerprint_col
# and the bigram-set MinHash of dedup_ngram_jaccard.
WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # window of consecutive k-gram hashes

# Shared oracle CTE prefix ending in e(doc_id, fingerprint) — reused by
# dedup_winnow_pairs so the fingerprint derivation is one contract.
WINNOW_ORACLE_CTES = f"""toks AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS t
          FROM documents
        ),
        kg AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= {WINNOW_K}
                      THEN [('0x' || substring(md5(
                               array_to_string(t[i:i + {WINNOW_K - 1}], ' ')),
                             1, 14))::BIGINT
                            FOR i IN range(1, len(t) - {WINNOW_K} + 2)]
                      ELSE [] END AS h
          FROM toks
        ),
        fps AS (
          SELECT doc_id,
                 CASE WHEN len(h) = 0 THEN []
                      WHEN len(h) < {WINNOW_W} THEN [list_min(h)]
                      ELSE list_distinct(
                        [list_min(h[j:j + {WINNOW_W - 1}])
                         FOR j IN range(1, len(h) - {WINNOW_W} + 2)])
                      END AS f
          FROM kg
        ),
        e AS (SELECT doc_id, unnest(f) AS fingerprint FROM fps)"""


def _winnow_fps(d: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) winnowed fingerprints (Spark twin of
    WINNOW_ORACLE_CTES's ``e``)."""
    t = tokens_col(F.col("text"))
    n = F.size(t)
    kgram_hash = lambda i: (  # noqa: E731
        md5_long_col(F.concat_ws(" ", F.slice(t, i, WINNOW_K)))
    )
    # guard sequence() stops: Spark sequence(1, 0) counts DOWN, so every
    # sequence sits under a when() that proves stop >= 1
    h = F.when(
        n >= WINNOW_K,
        F.transform(F.sequence(F.lit(1), n - WINNOW_K + 1), kgram_hash),
    ).otherwise(F.array().cast("array<long>"))
    with_h = d.select("doc_id", h.alias("h"))
    m = F.size(F.col("h"))
    fps = (
        F.when(m == 0, F.array().cast("array<long>"))
        .when(m < WINNOW_W, F.array(F.array_min("h")))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - WINNOW_W + 1),
                    lambda j: F.array_min(F.slice("h", j, WINNOW_W)),
                )
            )
        )
    )
    return with_h.select("doc_id", F.explode(fps).alias("fingerprint"))


@register(
    "text_winnow_fingerprints",
    oracle=f"""
        WITH {WINNOW_ORACLE_CTES}
        SELECT doc_id, fingerprint FROM e
    """,
    doc=f"Winnowing fingerprints (MOSS): md5 {WINNOW_K}-gram hashes, min "
    f"per {WINNOW_W}-window, distinct mins exploded as (doc_id, "
    "fingerprint). Any shared token run of length >= "
    f"{WINNOW_W + WINNOW_K - 1} between two docs is guaranteed a shared "
    "fingerprint — the substring-level dup detector (vs whole-doc "
    "fingerprint_col and set-shingle MinHash). All positional HOFs, "
    "JVM-side, zero shuffles; md5 keeps the hash space engine-portable so "
    "the fingerprint VALUES are oracle-exact, not just the counts.",
    tags=("text", "fingerprint", "winnowing", "traindata"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return _winnow_fps(d)


# Stop-fingerprint cap + pair threshold for winnow-based dup pairs.
WINNOW_MAX_FP_DOCS = 10  # fingerprints in more docs are non-discriminative
WINNOW_MIN_SHARED = 5  # pairs must share at least this many fingerprints


@register(
    "dedup_winnow_pairs",
    oracle=f"""
        WITH {WINNOW_ORACLE_CTES},
        freq AS (
          SELECT fingerprint FROM e
          GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_FP_DOCS}
        ),
        ee AS (SELECT e.* FROM e JOIN freq USING (fingerprint))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM ee a JOIN ee b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
    doc="Substring-level near-dup pairs from winnowed fingerprints: drop "
    f"stop-fingerprints (> {WINNOW_MAX_FP_DOCS} docs — non-discriminative "
    "boilerplate, and the skew guard: per-fingerprint fan-out is bounded "
    "so the self-join is at worst quadratic in the cap, never in corpus "
    f"size), join bucket-locally on fingerprint, keep pairs sharing >= "
    f"{WINNOW_MIN_SHARED}. This is the copy-span detector (quotation / "
    "boilerplate / plagiarism shapes) that set-based MinHash misses when "
    "the shared material is a small fraction of each doc.",
    tags=("dedup", "winnowing", "traindata"),
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # materialize once: the fingerprint frame feeds the stop-fingerprint
    # aggregate AND both sides of the self-join, and those exchanges are
    # not plan-identical (ReusedExchange can't collapse them) — without
    # this the tokenize→md5→window-min→explode pipeline runs 3x
    e = _winnow_fps(d).localCheckpoint(eager=True)
    keep = (
        e.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("nf"))
        .where(F.col("nf") <= WINNOW_MAX_FP_DOCS)
        .select("fingerprint")
    )
    ee = e.join(keep, "fingerprint")
    a, b = ee.alias("a"), ee.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
