"""Round-3 batch C queries.

Training-data surface: unigram-LM perplexity scoring (the CCNet/KenLM
quality-bucket analog), ExactSubstr-style duplicated-span detection
(Lee et al. 2022 fixed-k relaxation), SemDeDup semantic dedup (Abbas
et al. 2023 — cluster, then near-dup within cluster), and
token-budget data mixing (derive per-source keep rates from a target
mixture).

Pipeline surface: the stateful streaming twin of cumulativetodelta
(`stream_c2d` runs REAL Structured Streaming — applyInPandasWithState
keeping one previous point per series, exactly the Go tracker's map
at cumulativetodeltaprocessor/internal/tracking/tracker.go:153-158 —
and grades against the batch window-function oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load
from .queries_streaming import EVENTS_SCHEMA, _as_dir, _run_stream_until_drained


# ---------------------------------------------------------------------------
# unigram-LM quality scoring (CCNet perplexity-bucket analog)
# ---------------------------------------------------------------------------

def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import unigram_nll

    docs = load(spark, sf_dir, "documents")
    return unigram_nll(docs).orderBy("doc_id")


O_UNIGRAM_LM = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM vocab)
SELECT doc_id,
       sum(tf) AS n_tokens,
       round(-sum(tf * ln(cnt::DOUBLE / total::DOUBLE)) / sum(tf), 6) AS nll
FROM tf JOIN vocab USING (term) CROSS JOIN tot
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# duplicated-span detection (ExactSubstr fixed-k relaxation). The
# synthetic corpus is near-salad (no natural 8-gram collisions), so
# the query seeds boilerplate spans: a shared preamble on every
# doc_id % 7 == 0 and a shared footer on every doc_id % 5 == 0 — the
# operator must find exactly those.
# ---------------------------------------------------------------------------

_PREAMBLE = "subscribe to our newsletter for updates every single week now"
_FOOTER = "all rights reserved contact us for more information today please"


def _seeded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit(_PREAMBLE + " ")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" " + _FOOTER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import dup_spans

    return dup_spans(_seeded_docs(spark, sf_dir), k=8).orderBy("doc_id")


O_DUP_SPANS = rf"""
WITH seeded AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN '{_PREAMBLE} ' ELSE '' END)
         || text
         || (CASE WHEN doc_id % 5 = 0 THEN ' {_FOOTER}' ELSE '' END) AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     t -> t <> '') AS tk
  FROM seeded
),
base AS (SELECT doc_id, tk, greatest(len(tk) - 7, 0) AS n_windows FROM toks),
idx AS (
  SELECT doc_id, tk, unnest(range(1, n_windows + 1)) AS i
  FROM base WHERE n_windows >= 1
),
wins AS (
  SELECT doc_id, md5(array_to_string(tk[i : i+7], ' ')) AS wkey FROM idx
),
shared AS (
  SELECT wkey FROM wins GROUP BY wkey HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT doc_id, count(*) AS dup_windows
  FROM wins WHERE wkey IN (SELECT wkey FROM shared)
  GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_windows,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(p.dup_windows, 0)::DOUBLE / b.n_windows::DOUBLE AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
WHERE b.n_windows >= 1
"""


# ---------------------------------------------------------------------------
# token-budget data mixing: target language mixture en=1/2, the rest
# 1/8 each (exact binary weights), over half the corpus tokens.
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import mix_sources

    docs = load(spark, sf_dir, "documents")
    return mix_sources(
        docs, _MIX_WEIGHTS, budget_frac=0.5, strata_col="lang"
    ).orderBy("source")


_DUCK_MIX_W = (
    "CASE source WHEN 'de' THEN 0.125 WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.125 "
    "WHEN 'fr' THEN 0.125 WHEN 'zh' THEN 0.125 ELSE 0.0 END"
)

O_DATA_MIX = rf"""
WITH tok AS (
  SELECT lang AS source, doc_id,
         coalesce(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  t -> t <> '')), 0) AS t
  FROM documents
),
totals AS (
  SELECT source, sum(t) AS tokens_s, count(*) AS n_docs FROM tok GROUP BY 1
),
grand AS (SELECT sum(t) AS total_tokens FROM tok),
rates AS (
  SELECT source, n_docs,
         least(1.0, ({_DUCK_MIX_W}) * 0.5 * total_tokens::DOUBLE
                     / tokens_s::DOUBLE) AS rate
  FROM totals CROSS JOIN grand
),
cuts AS (
  SELECT source, n_docs, rate,
         CASE WHEN round(rate * 65536) >= 65536 THEN 'g'
              ELSE lower(lpad(to_hex(CAST(round(rate * 65536) AS INT)), 4, '0'))
         END AS cut
  FROM rates
),
kept AS (
  SELECT tok.source, count(*) AS kept_docs, sum(t) AS kept_tokens
  FROM tok JOIN cuts USING (source)
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < cut
  GROUP BY 1
)
SELECT c.source, c.n_docs,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens,
       round(c.rate, 9) AS rate
FROM cuts c LEFT JOIN kept k USING (source)
"""


# ---------------------------------------------------------------------------
# SemDeDup: kmeans cells (identical recursion to kmeans_ivf's oracle)
# then within-cell cosine >= 0.98 dedup, min-id representative.
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.98


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, k=6, iters=2, threshold=_SEMDEDUP_TAU
    ).orderBy("vec_id")


_DUCK_SD_COS = (
    "round(list_dot_product(e.v, s.c) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.c, s.c))), 12)"
)

O_SEMDEDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < 6),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_SD_COS} DESC, s.cell) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1
),
upd AS (
  SELECT cell, list(m ORDER BY i) AS c FROM (
    SELECT a1.cell, t.i, round(avg(e.v[CAST(t.i AS INT) + 1]), 9) AS m
    FROM a1 JOIN e USING (vec_id) CROSS JOIN range(64) t(i)
    GROUP BY 1, 2)
  GROUP BY cell
),
a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_SD_COS} DESC, s.cell) AS rn
    FROM e CROSS JOIN upd s) WHERE rn = 1
),
av AS (
  SELECT vec_id, cell, list_transform(v, x -> x / n) AS v FROM (
    SELECT a2.vec_id, a2.cell, e.v, sqrt(list_dot_product(e.v, e.v)) AS n
    FROM a2 JOIN e USING (vec_id))
),
dups AS (
  SELECT b.vec_id, min(a.vec_id) AS dup_of
  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 12) >= {_SEMDEDUP_TAU}
  GROUP BY b.vec_id
)
SELECT av.vec_id, av.cell, (d.dup_of IS NULL) AS keep, d.dup_of
FROM av LEFT JOIN dups d USING (vec_id)
"""


# ---------------------------------------------------------------------------
# streaming cumulative->delta (stateful; same oracle as the batch
# cumulative_to_delta query — the stream must reproduce the batch
# window-function result exactly)
# ---------------------------------------------------------------------------

def q_stream_c2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import stream_cumulative_to_delta

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_dir(f"{sf_dir}/events.parquet")
    )
    out = stream_cumulative_to_delta(
        stream.select("user_id", "ts", "event_id", "value"), ["user_id"]
    )
    _run_stream_until_drained(out, "sc2d")
    return spark.table("sc2d").select(
        "event_id", F.round("value_delta", 4).alias("value_delta")
    )


O_STREAM_C2D = """
SELECT event_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
         AS value_delta
FROM events
"""


EXT8_QUERIES: dict[str, QueryFn] = {
    "unigram_lm": q_unigram_lm,
    "dup_spans": q_dup_spans,
    "data_mix": q_data_mix,
    "semdedup": q_semdedup,
    "stream_c2d": q_stream_c2d,
}

EXT8_ORACLES: dict[str, str] = {
    "unigram_lm": O_UNIGRAM_LM,
    "dup_spans": O_DUP_SPANS,
    "data_mix": O_DATA_MIX,
    "semdedup": O_SEMDEDUP,
    "stream_c2d": O_STREAM_C2D,
}


# ---------------------------------------------------------------------------
# product quantization encode (PQ, Jegou et al. 2011): 4 subspaces x
# 4-codeword spherical codebooks over the 64-dim embeddings. The
# oracle replays each block's Lloyd recursion (the kmeans_ivf pattern,
# once per subspace) and joins the four final assignments.
# ---------------------------------------------------------------------------

def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_encode

    emb = load(spark, sf_dir, "embeddings")
    return pq_encode(emb, dim=64, m=4, ksub=4, iters=2).orderBy("vec_id")


def _pq_block_ctes(b: int) -> str:
    lo = b * 16 + 1
    cos = (
        "round(list_dot_product(e.v, s.c) / "
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.c, s.c))), 12)"
    )
    return f"""
e{b} AS (SELECT vec_id, list_slice(embedding::DOUBLE[], {lo}, {lo + 15}) AS v
         FROM embeddings),
s{b} AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e{b} WHERE vec_id < 4),
x{b} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, s.cell) AS rn
    FROM e{b} e CROSS JOIN s{b} s) WHERE rn = 1
),
u{b} AS (
  SELECT cell, list(m ORDER BY i) AS c FROM (
    SELECT x{b}.cell, t.i, round(avg(e.v[CAST(t.i AS INT) + 1]), 9) AS m
    FROM x{b} JOIN e{b} e USING (vec_id) CROSS JOIN range(16) t(i)
    GROUP BY 1, 2)
  GROUP BY cell
),
y{b} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, s.cell) AS rn
    FROM e{b} e CROSS JOIN u{b} s) WHERE rn = 1
)"""


O_PQ_ENCODE = (
    "WITH "
    + ",".join(_pq_block_ctes(b) for b in range(4))
    + """
SELECT y0.vec_id, y0.cell AS c0, y1.cell AS c1, y2.cell AS c2, y3.cell AS c3
FROM y0 JOIN y1 USING (vec_id) JOIN y2 USING (vec_id) JOIN y3 USING (vec_id)
"""
)

EXT8_QUERIES["pq_encode"] = q_pq_encode
EXT8_ORACLES["pq_encode"] = O_PQ_ENCODE


# ---------------------------------------------------------------------------
# BPE merge-candidate mining (tokenizer-training statistics pass)
# ---------------------------------------------------------------------------

def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_merge_candidates

    docs = load(spark, sf_dir, "documents")
    return bpe_merge_candidates(docs, k=20).orderBy("rank")


O_BPE_MERGES = r"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
),
pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair
  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words WHERE length(w) >= 2)
),
counted AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY 1)
SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank
FROM counted ORDER BY cnt DESC, pair LIMIT 20
"""

EXT8_QUERIES["bpe_merges"] = q_bpe_merges
EXT8_ORACLES["bpe_merges"] = O_BPE_MERGES


# ---------------------------------------------------------------------------
# model-based quality classification (fastText-filter analog: logistic
# scorer over deterministic doc features; keep = prob >= 0.5)
# ---------------------------------------------------------------------------

def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_classifier

    docs = load(spark, sf_dir, "documents")
    return quality_classifier(docs).orderBy("doc_id")


def _quality_clf_oracle() -> str:
    from ..operators.text import QUALITY_CLF_WEIGHTS, STOPWORDS

    toks = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')"
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    w = QUALITY_CLF_WEIGHTS
    z = (
        f"-2.0 + {w['alpha_ratio']} * (CASE WHEN length(text) > 0 THEN "
        f"length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) "
        f"ELSE 0.0 END) + {w['stopword_ratio']} * (CASE WHEN len({toks}) > 0 THEN "
        f"len(list_filter({toks}, t -> lower(t) IN ({stops})))::DOUBLE / len({toks}) "
        f"ELSE 0.0 END) + {w['distinct_token_ratio']} * (CASE WHEN len({toks}) > 0 "
        f"THEN len(list_distinct({toks}))::DOUBLE / len({toks}) ELSE 0.0 END) + "
        f"{w['log_tokens']} * ln(1.0 + len({toks}))"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, round(1.0 / (1.0 + exp(-({z}))), 6) AS quality_prob
  FROM documents
)
SELECT doc_id, quality_prob, quality_prob >= 0.5 AS keep FROM scored
"""


O_QUALITY_CLF = _quality_clf_oracle()

EXT8_QUERIES["quality_clf"] = q_quality_classifier
EXT8_ORACLES["quality_clf"] = O_QUALITY_CLF


# ---------------------------------------------------------------------------
# streaming spanmetrics (RED metrics live: windowed call counts +
# explicit histogram + mean duration, graded vs the batch SQL)
# ---------------------------------------------------------------------------

def q_stream_spanmetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import stream_spanmetrics

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_dir(f"{sf_dir}/events.parquet")
    )
    out = stream_spanmetrics(stream)
    from .queries_streaming import _run_stream

    _run_stream(out, "ssm_agg")
    return spark.table("ssm_agg")


O_STREAM_SPANMETRICS = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS calls,
       count(*) FILTER (WHERE value <= 25) AS bucket_le_25,
       count(*) FILTER (WHERE value > 25 AND value <= 50) AS bucket_le_50,
       count(*) FILTER (WHERE value > 50) AS bucket_inf,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         AS avg_duration
FROM events GROUP BY 1, 2
"""

EXT8_QUERIES["stream_spanmetrics"] = q_stream_spanmetrics
EXT8_ORACLES["stream_spanmetrics"] = O_STREAM_SPANMETRICS


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC): top-1 neighbor per query with
# base vectors represented ONLY by their m codes. Oracle replays the
# per-block Lloyd recursions, then scores via codebook lookups.
# ---------------------------------------------------------------------------

def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_adc_top1

    emb = load(spark, sf_dir, "embeddings")
    return pq_adc_top1(
        emb, dim=64, m=4, ksub=4, iters=2, n_queries=5
    ).orderBy("query_id")


def _pq_adc_oracle() -> str:
    blocks = ",".join(_pq_block_ctes(b) for b in range(4))
    terms = " + ".join(
        f"list_dot_product(list_slice(q.qv, {b * 16 + 1}, {b * 16 + 16}), u{b}c.c)"
        for b in range(4)
    )
    joins = " ".join(f"JOIN u{b} u{b}c ON u{b}c.cell = y{b}.cell" for b in range(4))
    return f"""
WITH {blocks},
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, y0.vec_id, round({terms}, 12) AS adc_score
  FROM y0 JOIN y1 USING (vec_id) JOIN y2 USING (vec_id) JOIN y3 USING (vec_id)
  {joins}
  CROSS JOIN q
  WHERE y0.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id, adc_score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_score DESC, vec_id) AS rn
  FROM scored) WHERE rn = 1
"""


O_PQ_ADC = _pq_adc_oracle()

EXT8_QUERIES["pq_adc"] = q_pq_adc
EXT8_ORACLES["pq_adc"] = O_PQ_ADC
