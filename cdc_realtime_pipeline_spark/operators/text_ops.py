"""Text-analysis queries over the ``documents`` fixture.

Table-level entry points for functions/text.py, each with a DuckDB
oracle. One narrow parquet scan (doc_id, text, …) → per-row scalar
expressions — embarrassingly parallel, no shuffle except final order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.functions import text as TX
from cdc_realtime_pipeline_spark.session import (
    load_table,
    memo,
    tracked_persist,
)


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts and char length per document."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        TX.ws_token_count(t).alias("n_ws_tokens"),
        TX.bpe_ish_token_count(t).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


TEXT_TOKEN_STATS_SQL = rf"""
SELECT doc_id,
       length(text) AS n_chars_actual,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{TX.BPE_ISH_REGEX}')) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filtering features + composite score per document."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    words = F.split(F.lower(F.trim(t)), r"\s+")
    return docs.select(
        "doc_id",
        F.round(TX.punct_ratio(t), 4).alias("punct_ratio"),
        F.round(F.size(F.array_distinct(words)) / F.greatest(F.size(words), F.lit(1)), 4).alias(
            "distinct_ratio"
        ),
        TX.quality_score(t).alias("quality"),
    ).orderBy("doc_id")


TEXT_QUALITY_SQL = r"""
WITH feat AS (
  SELECT doc_id,
         text,
         length(text) AS n,
         string_split_regex(lower(trim(text)), '\s+') AS words,
         (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
           / greatest(length(text), 1) AS punct_ratio
  FROM documents
), feat2 AS (
  SELECT doc_id, n, punct_ratio,
         len(list_distinct(words)) / greatest(len(words), 1) AS distinct_ratio,
         greatest(len(words), 1) AS n_words
  FROM feat
)
SELECT doc_id,
       round(punct_ratio, 4) AS punct_ratio,
       round(distinct_ratio, 4) AS distinct_ratio,
       round(0.4 * least(CAST(n AS DOUBLE) / 200.0, CAST(1.0 AS DOUBLE))
             + 0.3 * distinct_ratio
             + 0.2 * (CASE WHEN n / n_words >= 3 AND n / n_words <= 10 THEN 1.0 ELSE 0.5 END)
             + 0.1 * (1 - punct_ratio) + 1e-9, 4) AS quality
FROM feat2 ORDER BY doc_id
"""


@memo("quality_scores")
def _quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: (doc_id, quality) — the composite quality score
    shared by the curation consumers (weighted sample, weighted
    reservoir, token-budget pack), each of which previously re-ran the
    full per-doc tokenize/distinct/punct expression chain (round 13,
    guide §5). Built unordered (consumers aggregate); the
    ``text_quality`` query itself keeps its full-featured ordered
    output and shares the same ``TX.quality_score`` expression."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted language vs labeled language per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), TX.lang_id(F.col("text")).alias("pred_lang")
    ).orderBy("doc_id")


def _marker_score_sql(markers: list[str]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return (
        rf"len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ({in_list})))"
        rf" / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)"
    )


TEXT_LANG_ID_SQL = rf"""
WITH scores AS (
  SELECT doc_id, lang,
         {_marker_score_sql(TX.LANG_MARKERS['en'])} AS s_en,
         {_marker_score_sql(TX.LANG_MARKERS['de'])} AS s_de,
         {_marker_score_sql(TX.LANG_MARKERS['es'])} AS s_es,
         {_marker_score_sql(TX.LANG_MARKERS['fr'])} AS s_fr,
         (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
           / greatest(length(text), 1) AS s_zh
  FROM documents
)
SELECT doc_id,
       lang AS labeled_lang,
       CASE WHEN s_en <= 0 AND s_de <= 0 AND s_es <= 0 AND s_fr <= 0 AND s_zh <= 0 THEN 'en'
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM scores ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint over normalized text per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.content_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY doc_id
"""


def docs_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, labeled-lang) corpus accounting: doc counts, mean
    recorded length, and metadata drift (rows whose recorded ``n_chars``
    disagrees with the actual text length) — the provenance/data-quality
    sweep run before trusting a crawl's own metadata. One group-by."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_n_chars"),
            F.sum(
                (F.length("text") != F.col("n_chars")).cast("long")
            ).alias("n_chars_drift"),
        )
        .orderBy("source", "lang")
    )


DOCS_SOURCE_PROFILE_SQL = """
SELECT source, lang, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_n_chars,
       CAST(count(CASE WHEN length(text) != n_chars THEN 1 END) AS BIGINT) AS n_chars_drift
FROM documents
GROUP BY source, lang ORDER BY source, lang
"""


_TFIDF_QUERY_TERMS = ["stream", "window", "hash"]
_TFIDF_TOPK = 20


@memo("tfidf_weights")
def _tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, word, wt, idf) TF-IDF weight relation
    — the ONE corpus×terms pass the sparse-retrieval family shares
    (tfidf top-k, nDCG agreement through it, RRF fusion through both).

    100 TB lever (VERDICT r10 #3, `retrieval_ndcg_agreement` α=0.83):
    the corpus-linear part of every TF-IDF consumer is exactly this
    relation plus the doc-norm aggregate below — both are inherently
    one-pass-over-the-corpus (true-cosine norms must touch every
    (doc, term) pair once; that linearity is structural, not a plan
    defect). Memoizing them turns N-consumers × 1-pass into 1 pass
    per corpus per session — at scale this is the materialized
    inverted-index staging table a retrieval deployment builds once
    and amortizes across every query/eval job (SCALING.md cross-ref:
    retrieval_ndcg_agreement row). Values are bit-identical: the
    expressions are unchanged, only factored behind the session memo.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    docs = doc_words(spark, sf_dir)
    tokens = docs.select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = df.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.round(F.log(F.col("n_docs") / F.col("df")), 8).alias("idf"),
    )
    return tf.join(idf, "word").select(
        "doc_id",
        "word",
        (F.col("tf") * F.col("idf")).alias("wt"),
        "idf",
    )


@memo("tfidf_doc_norms")
def _tfidf_doc_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, doc_norm): the true-cosine norm
    aggregate over ``_tfidf_weights`` (see its docstring for the
    100 TB amortization argument)."""
    return (
        _tfidf_weights(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sqrt(F.sum(F.round(F.col("wt") * F.col("wt"), 8))).alias(
                "doc_norm"
            )
        )
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-retrieval ranking: TF-IDF cosine top-K docs for a fixed
    term query — the classic inverted-index scorer next to the dense
    (embedding ANN) retrieval family.

    weight(d,w) = tf·idf with idf = ln(N/df); score = Σ_{w∈Q}
    tf·idf² / (‖d‖·‖Q‖) where ‖d‖ spans ALL the doc's terms (true
    cosine, not just the query slice). Everything stays distributed:
    tf and df are map-side-combinable aggs, the vocabulary is joined
    (never collected), and top-K is an ordered limit
    (TakeOrderedAndProject). Cross-engine: idf rounded to 8dp before
    use and per-term contributions to norms/scores rounded to 8dp
    before summation (the unigram-LM discipline, curation.py:256-258);
    final scores rounded to 6dp and ranked with doc_id tie-break.

    The corpus-linear weight/norm passes are session-memoized
    (``_tfidf_weights`` / ``_tfidf_doc_norms``) and shared with the
    nDCG and RRF consumers; per-query work here is the 3-term slice.
    """
    w = _tfidf_weights(spark, sf_dir)
    norms = _tfidf_doc_norms(spark, sf_dir)
    q_terms = [t.lower() for t in _TFIDF_QUERY_TERMS]
    # idf is functionally dependent on word, so the distinct over the
    # query-term slice reproduces the former idf-relation lookup
    q_norm = (
        w.filter(F.col("word").isin(q_terms))
        .select("word", "idf")
        .distinct()
        .agg(
            F.sqrt(F.sum(F.round(F.col("idf") * F.col("idf"), 8))).alias(
                "q_norm"
            )
        )
    )
    scores = (
        w.filter(F.col("word").isin(q_terms))
        .groupBy("doc_id")
        .agg(F.sum(F.round(F.col("wt") * F.col("idf"), 8)).alias("dot"))
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(q_norm))
        .select(
            "doc_id",
            F.round(
                F.col("dot") / (F.col("doc_norm") * F.col("q_norm")) + 1e-9, 6
            ).alias("score"),
        )
    )
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(_TFIDF_TOPK)


_TFIDF_IN = ", ".join(f"'{t.lower()}'" for t in _TFIDF_QUERY_TERMS)

from cdc_realtime_pipeline_spark.operators.dedup import NORMALIZE_SQL as _NORM_SQL

TEXT_TFIDF_TOPK_SQL = f"""
WITH tokens AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split({_NORM_SQL.format(col='text')}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY 1, 2),
idf AS (
  SELECT word, round(ln(n_docs / df), 8) AS idf
  FROM (SELECT word, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN n
),
w AS (
  SELECT doc_id, word, tf * idf AS wt FROM tf JOIN idf USING (word)
),
norms AS (
  SELECT doc_id, sqrt(sum(round(wt * wt, 8))) AS doc_norm FROM w GROUP BY 1
),
qn AS (
  SELECT sqrt(sum(round(idf * idf, 8))) AS q_norm
  FROM idf WHERE word IN ({_TFIDF_IN})
),
scores AS (
  SELECT doc_id, sum(round(wt * idf, 8)) AS dot
  FROM w JOIN idf USING (word)
  WHERE word IN ({_TFIDF_IN})
  GROUP BY 1
)
SELECT doc_id,
       round(dot / (doc_norm * q_norm) + 1e-9, 6) AS score
FROM scores JOIN norms USING (doc_id) CROSS JOIN qn
ORDER BY score DESC, doc_id ASC
LIMIT {_TFIDF_TOPK}
"""


_BM25_K1 = 1.2
_BM25_B = 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-K for the same fixed term query as ``text_tfidf_topk``
    — the industry-standard probabilistic ranking function (Robertson/
    Sparck Jones), with saturation (k1) and length normalization (b)
    the plain TF-IDF cosine lacks:

        score(d,Q) = Σ_{w∈Q} idf(w) · tf·(k1+1) /
                     (tf + k1·(1−b + b·|d|/avgdl))
        idf(w) = ln( (N − df + 0.5)/(df + 0.5) + 1 )

    Same distributed scaffolding as TF-IDF: tf/df map-side-combinable,
    doc lengths one agg, avgdl broadcast as a 1-row join, top-K an
    ordered limit. Per-term scores rounded to 8dp before summation,
    totals to 6dp with doc_id tie-break — identical cross-engine.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    # tokens come from the session-memoized tokenized corpus (one
    # normalize+split pass per session; values identical)
    docs = doc_words(spark, sf_dir)
    tokens = docs.select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    doclen = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = doclen.agg(F.avg("dl").alias("avgdl"))
    q_terms = [t.lower() for t in _TFIDF_QUERY_TERMS]
    tf = (
        tokens.filter(F.col("word").isin(q_terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    # df must count ALL docs containing the term (not just query-term
    # survivors of some other filter) — tf above is already per
    # (doc, term), so distinct doc_ids per term is exactly df
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = df.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
            8,
        ).alias("idf"),
    )
    scored = (
        tf.join(idf, "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                8,
            ).alias("term_score"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score") + 1e-9, 6).alias("score")
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(_TFIDF_TOPK)


TEXT_BM25_TOPK_SQL = f"""
WITH tokens AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split({{norm}}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
n AS (SELECT count(*) AS n_docs FROM documents),
doclen AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
a AS (SELECT avg(dl) AS avgdl FROM doclen),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tokens
  WHERE word IN ({{terms}})
  GROUP BY 1, 2
),
idf AS (
  SELECT word,
         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8) AS idf
  FROM (SELECT word, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN n
),
scored AS (
  SELECT doc_id,
         round(idf * (tf * ({_BM25_K1} + 1))
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)),
               8) AS term_score
  FROM tf JOIN idf USING (word) JOIN doclen USING (doc_id) CROSS JOIN a
)
SELECT doc_id, round(sum(term_score) + 1e-9, 6) AS score
FROM scored GROUP BY 1
ORDER BY score DESC, doc_id ASC
LIMIT {_TFIDF_TOPK}
"""


_NDCG_K = 10


def retrieval_ndcg_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{K} system-agreement between the two sparse retrievers —
    the ranking-evaluation metric the retrieval family lacked (recall
    tables measure SET overlap; nDCG measures ORDER with graded,
    position-discounted credit). With no human qrels in the fixture,
    the TF-IDF ranking plays graded truth (rel = {T}+1−rank, the
    standard system-agreement protocol for comparing rankers):
    DCG@{K} of BM25's ordering over those grades vs the ideal DCG of
    the grades themselves — nDCG 1.0 means BM25 reorders nothing that
    TF-IDF's grades care about.

    Both rankings are the already-bounded top-{T} relations; ranks
    come from row_number windows above their limits, and the final
    row is a 3-scalar aggregate — everything after the (shared,
    memoized) retriever subplans touches ≤{T} rows.
    """
    bm = text_bm25_topk(spark, sf_dir)
    tfi = text_tfidf_topk(spark, sf_dir)
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_r = bm.select(
        "doc_id", F.row_number().over(w_bm).alias("bm_rank")
    ).filter(F.col("bm_rank") <= _NDCG_K)
    rel = tfi.select(
        "doc_id",
        (
            F.lit(_TFIDF_TOPK + 1)
            - F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            )
        ).alias("rel"),
    )
    dcg = (
        bm_r.join(rel, "doc_id", "left")
        .select(
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
            "bm_rank",
        )
        .agg(
            F.round(
                F.sum(
                    F.col("rel") / F.log2(F.col("bm_rank") + 1)
                )
                + 1e-9,
                6,
            ).alias("dcg"),
            F.count_if(F.col("rel") > 0).cast("long").alias("n_overlap"),
        )
    )
    ideal = rel.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("rel")))
        .alias("i_rank"),
    ).filter(F.col("i_rank") <= _NDCG_K).agg(
        F.round(
            F.sum(F.col("rel") / F.log2(F.col("i_rank") + 1)) + 1e-9, 6
        ).alias("idcg")
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        F.lit(_NDCG_K).alias("k"),
        "n_overlap",
        "dcg",
        "idcg",
        (
            F.round(F.col("dcg") / F.col("idcg") + 1e-9, 6) + 0.0
        ).alias("ndcg"),
    )


retrieval_ndcg_agreement.__doc__ = retrieval_ndcg_agreement.__doc__.format(
    K=_NDCG_K, T=_TFIDF_TOPK
)


def _ndcg_oracle_sql() -> str:
    bm = TEXT_BM25_TOPK_SQL.format(
        norm=_NORM_SQL.format(col="text"), terms=_TFIDF_IN
    ).strip()
    tfi = TEXT_TFIDF_TOPK_SQL.strip()
    return f"""
WITH bm AS ({bm}),
tfi AS ({tfi}),
bm_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS bm_rank
  FROM bm QUALIFY bm_rank <= {_NDCG_K}
),
rel AS (
  SELECT doc_id,
         {_TFIDF_TOPK} + 1
           - row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rel
  FROM tfi
),
dcg AS (
  SELECT round(sum(coalesce(rel.rel, 0)
                   / log2(CAST(bm_r.bm_rank + 1 AS DOUBLE))) + 1e-9, 6)
           AS dcg,
         CAST(count(CASE WHEN rel.rel > 0 THEN 1 END) AS BIGINT)
           AS n_overlap
  FROM bm_r LEFT JOIN rel ON bm_r.doc_id = rel.doc_id
),
ideal AS (
  SELECT round(sum(rel / log2(CAST(i_rank + 1 AS DOUBLE))) + 1e-9, 6)
           AS idcg
  FROM (SELECT rel,
               row_number() OVER (ORDER BY rel DESC) AS i_rank
        FROM rel) t
  WHERE i_rank <= {_NDCG_K}
)
SELECT {_NDCG_K} AS k, n_overlap, dcg, idcg,
       round(dcg / idcg + 1e-9, 6) + 0.0 AS ndcg
FROM dcg CROSS JOIN ideal
"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation matrix: declared (metadata) language vs
    the n-gram detector's prediction, with per-cell counts and a
    per-declared-language agreement rate — the calibration report that
    tells a curation pipeline when to trust the metadata, when the
    detector, and which language pairs confuse (the real failure mode
    of marker-word detectors on short documents).

    One projection (the detector is the same JVM expression tree
    ``text_lang_id`` gates) + one (declared, pred) hash-agg + a window
    sum over the tiny matrix. Agreement divides integers exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("declared_lang"),
            TX.lang_id(F.col("text")).alias("pred_lang"),
        )
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("declared_lang")
    return cells.select(
        "declared_lang",
        "pred_lang",
        "n_docs",
        (F.col("declared_lang") == F.col("pred_lang")).cast("int").alias("agree"),
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w) + 1e-9, 6
        ).alias("cell_frac"),
    ).orderBy("declared_lang", "pred_lang")


LANG_CONFUSION_MATRIX_SQL = rf"""
WITH pred AS (
  SELECT labeled_lang AS declared_lang, pred_lang
  FROM ({TEXT_LANG_ID_SQL.replace("ORDER BY doc_id", "")}) t
),
cells AS (
  SELECT declared_lang, pred_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT declared_lang, pred_lang, n_docs,
       CASE WHEN declared_lang = pred_lang THEN 1 ELSE 0 END AS agree,
       round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY declared_lang)
                           AS DOUBLE) + 1e-9, 6) AS cell_frac
FROM cells ORDER BY declared_lang, pred_lang
"""


_NB_TEST_MOD = 5  # doc_id % 5 == 0 -> held-out test split (~20%)


def lang_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier — train, apply and
    evaluate in ONE declarative plan: word-unigram likelihoods with
    Laplace smoothing are fit on the ~80% train split (doc_id %
    {M} != 0), the held-out docs are scored argmax_l [ln P(l) + Σ_w
    c_dw·ln P(w|l)], and the output is the (true, predicted)
    confusion matrix — the LEARNED counterpart to
    ``lang_confusion_matrix``'s fixed marker-word detector.

    The smoothing algebra keeps the plan sparse: with +1 smoothing,
    ln P(w|l) = ln(c_wl + 1) − ln(T_l + V), and unseen (w,l) pairs
    contribute ln(1) = 0 — so the score decomposes into a per-doc
    in-vocab token count times the per-lang denominator plus a sum
    over OBSERVED (w,l) rows only. No dense vocab×lang cross is ever
    materialized.

    Cross-engine floats: every ln is rounded 8dp at its definition
    (log-prior, log-denominator, per-word log-count); doc scores are
    rounded 6dp under the shared nudge before the argmax (ties break
    on lang asc in both engines via struct-min / QUALIFY order).

    Scale: two token-shuffles (train counts, test doc-word counts),
    vocab-keyed joins, and a 5-row broadcast lang-stats table — the
    candidate-lang fan-out is a BroadcastNestedLoopJoin over 5 rows,
    constant at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(norm, " ")).alias("word")
    ).filter(F.length("word") > 0)
    is_test = F.col("doc_id") % _NB_TEST_MOD == 0
    cwl = (
        toks.filter(~is_test)
        .groupBy(F.col("lang").alias("cand_lang"), "word")
        .agg(F.count("*").alias("c"))
    )
    cwl = tracked_persist(cwl)
    tl = cwl.groupBy("cand_lang").agg(F.sum("c").alias("t_l"))
    vs = cwl.select("word").distinct().agg(F.count("*").alias("v"))
    prior = (
        docs.filter(~is_test)
        .groupBy(F.col("lang").alias("cand_lang"))
        .agg(F.count("*").alias("n_l"))
    )
    ntr = prior.agg(F.sum("n_l").alias("n_train"))
    lang_stats = (
        prior.join(tl, "cand_lang")
        .crossJoin(F.broadcast(vs))
        .crossJoin(F.broadcast(ntr))
        .select(
            "cand_lang",
            F.round(
                F.log(F.col("n_l") / F.col("n_train").cast("double")), 8
            ).alias("log_prior"),
            F.round(
                F.log((F.col("t_l") + F.col("v")).cast("double")), 8
            ).alias("log_denom"),
        )
    )
    loglik = cwl.select(
        "word",
        "cand_lang",
        F.round(F.log((F.col("c") + 1).cast("double")), 8).alias("ll1"),
    )
    test_wc = (
        toks.filter(is_test)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c_dw"))
    )
    test_wc = tracked_persist(test_wc)
    vocab = cwl.select("word").distinct()
    ndv = (
        test_wc.join(vocab, "word")
        .groupBy("doc_id")
        .agg(F.sum("c_dw").alias("n_dv"))
    )
    pos = (
        test_wc.join(loglik, "word")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("c_dw") * F.col("ll1")).alias("sumpos"))
    )
    test_docs = docs.filter(is_test).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    scored = (
        test_docs.join(ndv, "doc_id", "left")
        .crossJoin(F.broadcast(lang_stats))
        .join(pos, ["doc_id", "cand_lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand_lang",
            F.round(
                F.col("log_prior")
                - F.coalesce(F.col("n_dv"), F.lit(0)) * F.col("log_denom")
                + F.coalesce(F.col("sumpos"), F.lit(0.0))
                + 1e-9,
                6,
            ).alias("score"),
        )
    )
    pred = scored.groupBy("doc_id", "true_lang").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("cand_lang")))
        .getField("cand_lang")
        .alias("pred_lang")
    )
    cells = pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        (F.col("true_lang") == F.col("pred_lang")).cast("int").alias("agree"),
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w) + 1e-9, 6
        ).alias("cell_frac"),
    ).orderBy("true_lang", "pred_lang")


lang_nb_confusion.__doc__ = lang_nb_confusion.__doc__.format(M=_NB_TEST_MOD)

LANG_NB_CONFUSION_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, word
  FROM (SELECT doc_id, lang,
               unnest(string_split({_NORM_SQL.format(col='text')}, ' '))
                 AS word
        FROM documents)
  WHERE length(word) > 0
),
cwl AS (
  SELECT lang AS cand_lang, word, count(*) AS c
  FROM toks WHERE doc_id % {_NB_TEST_MOD} != 0 GROUP BY 1, 2
),
tl AS (SELECT cand_lang, sum(c) AS t_l FROM cwl GROUP BY cand_lang),
vs AS (SELECT count(DISTINCT word) AS v FROM cwl),
prior AS (
  SELECT lang AS cand_lang, count(*) AS n_l
  FROM documents WHERE doc_id % {_NB_TEST_MOD} != 0 GROUP BY 1
),
ntr AS (SELECT sum(n_l) AS n_train FROM prior),
lang_stats AS (
  SELECT p.cand_lang,
         round(ln(p.n_l / CAST(n.n_train AS DOUBLE)), 8) AS log_prior,
         round(ln(CAST(t.t_l + v.v AS DOUBLE)), 8) AS log_denom
  FROM prior p JOIN tl t ON p.cand_lang = t.cand_lang
  CROSS JOIN vs v CROSS JOIN ntr n
),
loglik AS (
  SELECT word, cand_lang, round(ln(CAST(c + 1 AS DOUBLE)), 8) AS ll1
  FROM cwl
),
test_wc AS (
  SELECT doc_id, word, count(*) AS c_dw
  FROM toks WHERE doc_id % {_NB_TEST_MOD} = 0 GROUP BY 1, 2
),
ndv AS (
  SELECT w.doc_id, sum(w.c_dw) AS n_dv
  FROM test_wc w JOIN (SELECT DISTINCT word FROM cwl) vv
    ON w.word = vv.word
  GROUP BY 1
),
pos AS (
  SELECT w.doc_id, l.cand_lang, sum(w.c_dw * l.ll1) AS sumpos
  FROM test_wc w JOIN loglik l ON w.word = l.word
  GROUP BY 1, 2
),
test_docs AS (
  SELECT doc_id, lang AS true_lang FROM documents
  WHERE doc_id % {_NB_TEST_MOD} = 0
),
scored AS (
  SELECT d.doc_id, d.true_lang, s.cand_lang,
         round(s.log_prior
               - coalesce(n.n_dv, 0) * s.log_denom
               + coalesce(p.sumpos, 0.0) + 1e-9, 6) AS score
  FROM test_docs d
  CROSS JOIN lang_stats s
  LEFT JOIN ndv n ON d.doc_id = n.doc_id
  LEFT JOIN pos p ON d.doc_id = p.doc_id AND s.cand_lang = p.cand_lang
),
pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, cand_lang ASC) = 1
),
cells AS (
  SELECT true_lang, pred_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n_docs,
       CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END AS agree,
       round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY true_lang)
                           AS DOUBLE) + 1e-9, 6) AS cell_frac
FROM cells ORDER BY true_lang, pred_lang
"""


def text_char_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Shannon entropy per document — the
    gibberish/boilerplate detector in public quality-filter stacks
    (random bytes score high, templated/repeated text scores low,
    natural language sits in a stable band; the Gopher-style
    repetition signals in `text_repetition` catch exact repeats,
    entropy catches statistical degeneracy).

    H = log2(N) − Σ c·log2(c)/N over trigram counts — computed in
    that single-division form on BOTH engines so the float path is
    identical (one log per distinct gram, one division at the end).

    Shape: position-explode to trigrams (``sequence`` + ``transform``
    — JVM codegen, no Python), count per (doc, gram), re-aggregate
    per doc: two keyed shuffles on doc-sized keys, both absorbing
    map-side partials; gram strings are 3 bytes, so the shuffled
    payload is a fraction of the corpus even at 100 TB.
    """
    # The fixture stores each table as ONE parquet row group, so the
    # scan is a single input split and this explode-heavy map side
    # would run serially; repartition to cores first (measured 2× at
    # sf0.1). At 100 TB the input arrives in thousands of splits and
    # the repartition is a no-op-sized shuffle of raw text.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 0)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct_grams"),
            F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct_grams",
            F.round(
                F.log2("n_grams") - F.col("_clogc") / F.col("n_grams") + 1e-9, 4
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


TEXT_CHAR_NGRAM_ENTROPY_SQL = """
WITH grams AS (
  SELECT doc_id,
         substring(text, CAST(i AS INT), 3) AS gram
  FROM (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - 1, 1))) AS i
    FROM documents
  )
),
counts AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       count(*) AS n_distinct_grams,
       round(log2(CAST(sum(c) AS DOUBLE))
             - sum(c * log2(CAST(c AS DOUBLE))) / sum(c) + 1e-9, 4)
         AS entropy_bits
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""


_WINNOW_K = 5  # k-gram length (chars, over normalized text)
_WINNOW_W = 4  # winnowing window (k-grams per window)
_WINNOW_B = 131  # polynomial hash base
_WINNOW_P = 1000003  # hash modulus (prime)


def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every {K}-char gram of the
    normalized text, slide a {W}-gram window, keep each window's
    minimum hash. The selected set is position-independent,
    guarantees any shared substring of ≥ W+K−1 chars produces a
    shared fingerprint, and has expected density 2/(W+1) — the
    local-fingerprint complement to `text_fingerprint`'s whole-doc
    md5 (which a single edited character defeats).

    Engine-portable hashing: md5/xxhash force rows-only checks
    elsewhere (dedup_candidates_audit), so the k-gram hash here is an
    explicit base-{B} polynomial mod {P} over character codes —
    exact integer arithmetic both engines evaluate identically.

    Shape: the hash array, windowed minima, and distinct selection
    are all array HOFs (transform/slice/array_min/array_distinct) —
    per-row JVM codegen, NO row explosion for the per-doc columns;
    only the final shared-fingerprint audit explodes the ~2/(W+1)
    density selection and shuffles on the hash value (key domain
    bounded by {P}, map-side combinable). Docs shorter than
    K+W−1 normalized chars select nothing (the guarantee threshold).
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    powers = [_WINNOW_B**j for j in range(_WINNOW_K)]
    poly = " + ".join(
        f"bigint(ascii(substring(t, i + {j}, 1))) * {p}"
        for j, p in enumerate(powers)
    )
    # if-guarded: Spark's sequence(1, 0) is the DESCENDING [1, 0],
    # not empty, so short docs need the explicit empty-array branch
    hashes = (
        f"if(length(t) >= {_WINNOW_K},"
        f" transform(sequence(1, length(t) - {_WINNOW_K - 1}),"
        f" i -> ({poly}) % {_WINNOW_P}), array_repeat(0L, 0))"
    )
    selected = (
        f"array_distinct(if(size(h) >= {_WINNOW_W},"
        f" transform(sequence(1, size(h) - {_WINNOW_W - 1}),"
        f" p -> array_min(slice(h, p, {_WINNOW_W}))), array_repeat(0L, 0)))"
    )
    per_doc = (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", F.expr(hashes).alias("h"))
        .select(
            "doc_id",
            F.size("h").cast("long").alias("n_kgrams"),
            F.greatest(
                F.size("h") - (_WINNOW_W - 1), F.lit(0)
            ).alias("n_windows"),
            F.expr(selected).alias("fps"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            "n_windows",
            F.size("fps").alias("n_fingerprints"),
            "fps",
        )
    )
    per_doc = tracked_persist(per_doc)
    fp_docs = per_doc.select(
        "doc_id", F.explode("fps").alias("fp")
    )
    shared = (
        fp_docs.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("fp")
    )
    n_shared = (
        fp_docs.join(shared, "fp")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        per_doc.join(n_shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
            (
                F.when(
                    F.col("n_windows") > 0,
                    F.round(
                        F.col("n_fingerprints") / F.col("n_windows") + 1e-9,
                        4,
                    ),
                ).otherwise(F.lit(0.0))
                + 0.0
            ).alias("density"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias(
                "n_shared"
            ),
        )
        .orderBy("doc_id")
    )


text_winnowing_fingerprint.__doc__ = text_winnowing_fingerprint.__doc__.format(
    K=_WINNOW_K, W=_WINNOW_W, B=_WINNOW_B, P=_WINNOW_P
)

_WINNOW_POLY_SQL = " + ".join(
    f"CAST(ord(substr(t, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
    for j, p in enumerate(_WINNOW_B**j for j in range(_WINNOW_K))
)

TEXT_WINNOWING_FINGERPRINT_SQL = f"""
WITH norm AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS t FROM documents
),
hashed AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - {_WINNOW_K - 1}, 0) + 1),
                        i -> ({_WINNOW_POLY_SQL}) % {_WINNOW_P}) AS h
  FROM norm
),
per_doc AS (
  SELECT doc_id,
         len(h) AS n_kgrams,
         greatest(len(h) - {_WINNOW_W - 1}, 0) AS n_windows,
         list_distinct(list_transform(
           range(1, greatest(len(h) - {_WINNOW_W - 1}, 0) + 1),
           p -> list_min(h[p:p + {_WINNOW_W - 1}]))) AS fps
  FROM hashed
),
fp_docs AS (
  SELECT doc_id, unnest(fps) AS fp FROM per_doc
),
shared AS (
  SELECT fp FROM fp_docs GROUP BY fp HAVING count(*) >= 2
),
n_shared AS (
  SELECT f.doc_id, count(*) AS n_shared
  FROM fp_docs f JOIN shared s ON f.fp = s.fp
  GROUP BY f.doc_id
)
SELECT p.doc_id,
       CAST(p.n_kgrams AS BIGINT) AS n_kgrams,
       CAST(p.n_windows AS BIGINT) AS n_windows,
       CAST(len(p.fps) AS BIGINT) AS n_fingerprints,
       CASE WHEN p.n_windows > 0
            THEN round(len(p.fps) / CAST(p.n_windows AS DOUBLE) + 1e-9, 4)
            ELSE 0.0 END + 0.0 AS density,
       CAST(coalesce(n.n_shared, 0) AS BIGINT) AS n_shared
FROM per_doc p LEFT JOIN n_shared n ON p.doc_id = n.doc_id
ORDER BY p.doc_id
"""


_BP_N = 5  # boilerplate n-gram width (words)
_BP_TOP = 3  # report the top grams per source


def docs_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detector — the curation pass that finds
    the navigation bars, license footers and cookie banners a crawl
    stamps on every page of a site (C4/RefinedWeb remove them by
    exactly this signal): the {N}-word grams with the highest
    DOCUMENT coverage within each source, flagged as boilerplate when
    they cover ≥ half the source's docs (the integer comparison
    2·df ≥ n_docs — no float threshold). The per-doc DISTINCT is the
    point: a gram repeated 100× in one doc is repetition
    (`text_repetition`); a gram appearing once in 100 docs of one
    source is boilerplate.

    Shape: grams are array HOFs over the memoized tokenized corpus
    (no join to build them), one (source, gram) shuffle with map-side
    combine after the per-doc distinct, and a per-source top-{T}
    window over the grouped relation. Gram strings stay readable
    here; a 100 TB run would md5 them into the shuffle (the
    dedup-span discipline) and join back for the report.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    grams_expr = (
        f"if(size(ws) >= {_BP_N},"
        f" transform(sequence(1, size(ws) - {_BP_N - 1}),"
        f" i -> concat_ws(' ', slice(ws, i, {_BP_N}))),"
        f" array_repeat('', 0))"
    )
    docs = doc_words(spark, sf_dir).select(
        "doc_id",
        "source",
        F.filter("words", lambda w: F.length(w) > 0).alias("ws"),
    )
    doc_grams = (
        docs.select(
            "doc_id", "source", F.explode(F.expr(grams_expr)).alias("gram")
        )
        .distinct()
    )
    df = doc_grams.groupBy("source", "gram").agg(
        F.count("*").alias("df")
    )
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.desc("df"), F.asc("gram")
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BP_TOP)
        .join(F.broadcast(nd), "source")
        .select(
            "source",
            F.col("rk").cast("long").alias("rk"),
            "gram",
            "df",
            "n_docs",
            (F.round(F.col("df") / F.col("n_docs") + 1e-9, 4) + 0.0).alias(
                "coverage"
            ),
            (2 * F.col("df") >= F.col("n_docs")).cast("int").alias(
                "is_boilerplate"
            ),
        )
        .orderBy("source", "rk")
    )


docs_boilerplate_ngrams.__doc__ = docs_boilerplate_ngrams.__doc__.format(
    N=_BP_N, T=_BP_TOP
)

DOCS_BOILERPLATE_NGRAMS_SQL = f"""
WITH docs AS (
  SELECT doc_id, source,
         string_split({_NORM_SQL.format(col='text')}, ' ') AS ws
  FROM documents
),
doc_grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(ws[CAST(i AS INT):CAST(i + {_BP_N - 1} AS INT)], ' ')
           AS gram
  FROM docs,
       LATERAL (SELECT unnest(range(1, greatest(len(ws) - {_BP_N - 1}, 0)
                                       + 1)) AS i) t
),
df AS (
  SELECT source, gram, count(*) AS df FROM doc_grams GROUP BY source, gram
),
nd AS (SELECT source, count(*) AS n_docs FROM docs GROUP BY source),
ranked AS (
  SELECT source, gram, df,
         row_number() OVER (PARTITION BY source
                            ORDER BY df DESC, gram ASC) AS rk
  FROM df
)
SELECT r.source,
       CAST(r.rk AS BIGINT) AS rk,
       r.gram, r.df, nd.n_docs,
       round(r.df / CAST(nd.n_docs AS DOUBLE) + 1e-9, 4) + 0.0 AS coverage,
       CASE WHEN 2 * r.df >= nd.n_docs THEN 1 ELSE 0 END AS is_boilerplate
FROM ranked r JOIN nd ON r.source = nd.source
WHERE r.rk <= {_BP_TOP}
ORDER BY r.source, r.rk
"""


_BURST_TOP = 50  # report the most document-frequent words


def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church & Gale 1995): content words CLUMP —
    once a word appears in a document it tends to appear again — and
    the clumping, not raw frequency, is what separates topical terms
    from function words (it is also why the naive Poisson/unigram
    independence assumption under-weights repeated terms). Per word
    (the {T} highest-df): document frequency, total tf, mean tf among
    containing docs, the Fano factor var(tf)/mean(tf) over containing
    docs (≈1 Poisson-flat, ≫1 bursty), and Church's adaptation
    probability P(tf ≥ 2 | tf ≥ 1) — all from exact integer (word,
    doc) counts; the repetition companion to `user_overdispersion_
    check`'s per-user VMR.

    Shape: one pass over the memoized tokenized corpus to (word, doc)
    tf; per-word moments are a vocab-keyed map-combinable aggregate;
    the report is a bounded TakeOrdered (df desc, word asc).
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    tf = (
        doc_words(spark, sf_dir)
        .select("doc_id", F.explode("words").alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("word")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.sum(F.col("tf") * F.col("tf")).alias("stf2"),
            F.count_if(F.col("tf") >= 2).cast("long").alias("n_repeat"),
        )
        .select(
            "word",
            "df",
            "total_tf",
            F.expr("round(total_tf / CAST(df AS DOUBLE) + 1e-9, 4) + 0.0")
            .alias("mean_tf"),
            F.expr(
                "round(CASE WHEN df > 1 THEN"
                " ((stf2 - total_tf * total_tf / CAST(df AS DOUBLE))"
                "  / (df - 1)) / (total_tf / CAST(df AS DOUBLE))"
                " ELSE 0.0 END + 1e-9, 4) + 0.0"
            ).alias("fano"),
            F.expr("round(n_repeat / CAST(df AS DOUBLE) + 1e-9, 4) + 0.0")
            .alias("p_adapt"),
        )
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(_BURST_TOP)
    )


text_word_burstiness.__doc__ = text_word_burstiness.__doc__.format(
    T=_BURST_TOP
)

TEXT_WORD_BURSTINESS_SQL = f"""
WITH tf AS (
  SELECT word, doc_id, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(string_split({_NORM_SQL.format(col='text')}, ' '))
                 AS word
        FROM documents)
  WHERE length(word) > 0
  GROUP BY word, doc_id
),
m AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf,
         sum(tf * tf) AS stf2,
         CAST(count(CASE WHEN tf >= 2 THEN 1 END) AS BIGINT) AS n_repeat
  FROM tf GROUP BY word
)
SELECT word, df, total_tf,
       round(total_tf / CAST(df AS DOUBLE) + 1e-9, 4) + 0.0 AS mean_tf,
       round(CASE WHEN df > 1 THEN
               ((stf2 - total_tf * total_tf / CAST(df AS DOUBLE))
                / (df - 1)) / (total_tf / CAST(df AS DOUBLE))
             ELSE 0.0 END + 1e-9, 4) + 0.0 AS fano,
       round(n_repeat / CAST(df AS DOUBLE) + 1e-9, 4) + 0.0 AS p_adapt
FROM m
ORDER BY df DESC, word ASC
LIMIT {_BURST_TOP}
"""


_GT_MAX_R = 20  # report the head of the count-of-counts table


def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency re-estimation table — the third smoothing
    lens next to Laplace (`lang_nb_confusion`) and Kneser–Ney
    (`text_bigram_kneser_ney`): from the BIGRAM count-of-counts
    N_r (how many bigram types occurred exactly r times — bigrams
    because the fixture's unigram vocabulary is saturated: every word
    occurs ~900×, so the rare bands GT exists for only appear at the
    bigram level), the GT estimate r* = (r+1)·N_{{r+1}}/N_r re-prices
    every frequency band, and r·N_r/N is each band's probability
    mass (r=1's is the missing-mass estimate — the probability the
    next bigram is an unseen type). Rows are the {R} LOWEST frequency
    bands present; a gap in N_{{r+1}} leaves r* NULL (raw GT;
    smoothing N_r itself is the Gale–Sampson variant, out of scope
    by design).

    Shape: bigram counts (one corpus shuffle on the gram key), then
    count-of-counts (bounded by max frequency), then lead/rank
    windows over that BOUNDED relation. Integers everywhere except
    the final 6dp-rounded ratio and the 8dp band mass — both ratios
    of exact integers.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    docs = doc_words(spark, sf_dir)
    arr = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    grams = (
        docs.select(arr.alias("ws"))
        # guard BEFORE the slice: a zero-token doc (whitespace/punct
        # only) makes slice(ws, 1, -1) throw on the negative length,
        # while the oracle's range() just emits no grams (ADVICE r10).
        # Values unchanged — size<2 docs contribute no bigrams either
        # way.
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("gram")
        )
    )
    wc = grams.groupBy("gram").agg(F.count("*").alias("r"))
    coc = wc.groupBy("r").agg(F.count("*").alias("n_r"))
    tot = wc.agg(F.sum("r").cast("long").alias("n_tokens"))
    lead_w = Window.orderBy("r")
    return (
        coc.select(
            "r",
            "n_r",
            F.when(
                F.lead("r").over(lead_w) == F.col("r") + 1,
                F.lead("n_r").over(lead_w),
            ).alias("n_r_next"),
            F.row_number().over(lead_w).alias("_band_rank"),
        )
        .filter(F.col("_band_rank") <= _GT_MAX_R)
        .drop("_band_rank")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            "n_r_next",
            (
                F.round(
                    (F.col("r") + 1)
                    * F.col("n_r_next")
                    / F.col("n_r").cast("double")
                    + 1e-9,
                    6,
                )
                + 0.0
            ).alias("r_star"),
            (
                F.round(
                    F.col("r") * F.col("n_r") / F.col("n_tokens").cast("double")
                    + 1e-9,
                    8,
                )
                + 0.0
            ).alias("band_mass"),
        )
        .orderBy("r")
    )


text_good_turing.__doc__ = text_good_turing.__doc__.format(R=_GT_MAX_R)

TEXT_GOOD_TURING_SQL = f"""
WITH toks AS (
  SELECT string_split({_NORM_SQL.format(col='text')}, ' ') AS ws
  FROM documents
),
grams AS (
  SELECT ws[CAST(t.i AS INT)] || ' ' || ws[CAST(t.i AS INT) + 1] AS gram
  FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
),
wc AS (SELECT gram, count(*) AS r FROM grams GROUP BY gram),
coc AS (SELECT r, count(*) AS n_r FROM wc GROUP BY r),
tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_tokens FROM wc),
led AS (
  SELECT r, n_r,
         CASE WHEN lead(r) OVER (ORDER BY r) = r + 1
              THEN lead(n_r) OVER (ORDER BY r) END AS n_r_next,
         row_number() OVER (ORDER BY r) AS band_rank
  FROM coc
)
SELECT r, n_r, n_r_next,
       round((r + 1) * n_r_next / CAST(n_r AS DOUBLE) + 1e-9, 6) + 0.0
         AS r_star,
       round(r * n_r / CAST(t.n_tokens AS DOUBLE) + 1e-9, 8) + 0.0
         AS band_mass
FROM led CROSS JOIN tot t
WHERE band_rank <= {_GT_MAX_R}
ORDER BY r
"""


RAKE_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "has", "have", "in", "is", "it", "its", "of", "on", "or",
    "that", "the", "this", "to", "was", "were", "which", "will",
    "with", "not",
]
RAKE_TOP = 20
RAKE_MAX_PHRASE = 4


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; each
    word's score is degree/frequency (degree = Σ phrase length over
    the phrases containing it — co-occurrence weighting), a phrase
    scores the sum of its words, and the corpus-level top phrases
    surface the multi-word terminology single-token counts miss (the
    topic/keyword signal next to TF-IDF's per-doc ranking).

    Distributed shape: one corpus tokenize; phrase segmentation is a
    per-doc running count of stopword boundaries (doc-partitioned
    window, doc-bounded); word stats and phrase scores are
    map-side-combinable aggregates joined on token (word-keyed, vocab-
    sized); the final rank is a bounded TakeOrdered. Float surface:
    word score = deg/freq from exact integers; phrase score rounded
    4dp under the shared nudge before ranking (phrase-text ties broken
    lexically).
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    docs = doc_words(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode("words").alias("pos", "token")
    ).filter(F.length("token") > 0)
    stops = F.array(*[F.lit(w) for w in RAKE_STOPWORDS])
    flagged = toks.withColumn(
        "is_stop", F.array_contains(stops, F.col("token")).cast("long")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    members = (
        flagged.withColumn("pid", F.sum("is_stop").over(w))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pid", "pos", "token")
    )
    members = tracked_persist(members)
    # word stats need only the phrase LENGTH, so the expensive phrase
    # string is not built here; the (doc_id, pid)-keyed length
    # aggregate feeds the token join
    plen = members.groupBy("doc_id", "pid").agg(F.count("*").alias("plen"))
    word_stats = (
        members.join(plen, ["doc_id", "pid"])
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .withColumn("wscore", F.col("deg") / F.col("freq"))
    )
    # ONE (doc_id, pid) aggregate builds length, phrase text AND score
    # together (round 13, guide §2.4 — the former plen/phrase_scores
    # pair shuffled the same keys twice and joined the results back)
    phrases = (
        members.join(F.broadcast(word_stats.select("token", "wscore")), "token")
        .groupBy("doc_id", "pid")
        .agg(
            F.count("*").alias("plen"),
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(pos, token))),"
                " x -> x.token))"
            ).alias("phrase"),
            F.round(F.sum("wscore") + 1e-9, 4).alias("score"),
        )
    )
    ranked = (
        phrases.filter(F.col("plen") <= RAKE_MAX_PHRASE)
        .groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("plen").cast("long").alias("n_words"),
            F.max("score").alias("score"),
        )
    )
    return ranked.orderBy(F.desc("score"), F.asc("phrase")).limit(RAKE_TOP)


TEXT_RAKE_KEYWORDS_SQL = rf"""
WITH toks AS (
  SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos, d.words[CAST(t.i AS INT)] AS token
  FROM (SELECT doc_id,
               string_split({_NORM_SQL.format(col="text")}, ' ') AS words
        FROM documents) d,
       LATERAL (SELECT unnest(range(1, len(d.words) + 1)) AS i) t
  WHERE length(d.words[CAST(t.i AS INT)]) > 0
),
flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN token IN ({", ".join("'" + w + "'" for w in RAKE_STOPWORDS)})
              THEN 1 ELSE 0 END AS is_stop
  FROM toks
),
members AS (
  SELECT doc_id, pos, token,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pid
  FROM flagged QUALIFY is_stop = 0
),
plen AS (
  SELECT doc_id, pid, count(*) AS plen,
         string_agg(token, ' ' ORDER BY pos) AS phrase
  FROM members GROUP BY doc_id, pid
),
word_stats AS (
  SELECT m.token,
         count(*) AS freq,
         CAST(sum(p.plen) AS BIGINT) AS deg,
         CAST(sum(p.plen) AS BIGINT) / CAST(count(*) AS DOUBLE) AS wscore
  FROM members m JOIN plen p ON m.doc_id = p.doc_id AND m.pid = p.pid
  GROUP BY m.token
),
phrase_scores AS (
  SELECT m.doc_id, m.pid, round(sum(w.wscore) + 1e-9, 4) AS score
  FROM members m JOIN word_stats w ON m.token = w.token
  GROUP BY m.doc_id, m.pid
)
SELECT p.phrase,
       count(*) AS n_occurrences,
       CAST(max(p.plen) AS BIGINT) AS n_words,
       max(s.score) AS score
FROM plen p JOIN phrase_scores s ON p.doc_id = s.doc_id AND p.pid = s.pid
WHERE p.plen <= {RAKE_MAX_PHRASE}
GROUP BY p.phrase
ORDER BY score DESC, phrase ASC
LIMIT {RAKE_TOP}
"""


# --------------------------------------------------------------------------
# Burrows' Delta stylometry: pairwise source similarity
# --------------------------------------------------------------------------

_STYLO_M = 50  # marker vocabulary: top-M corpus words
_STYLO_TOP = 15  # closest pairs reported


def source_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002) between document sources: each
    source becomes a vector of z-scored relative frequencies over the
    top-{M} marker words, and Delta(s₁,s₂) = mean |z₁−z₂| — the
    classic stylometric distance used for authorship attribution,
    here repurposed as a PROVENANCE screen: two "different" crawl
    sources with near-zero Delta are the same upstream generator
    (mirror/SEO-farm detection before dedup even looks at content).

    One tokenization pass feeds everything; all downstream relations
    are bounded (sources × {M} markers — the marker matrix must CROSS
    sources × markers and zero-fill, because an absent marker IS a
    stylistic signal, not a missing row). Pairwise Delta is a
    markers-bounded self-join over {M}-row vectors, never corpus².
    Reports the {T} closest pairs.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    docs = doc_words(spark, sf_dir)
    words = tracked_persist(
        docs.select(
            "source", F.explode("words").alias("word")
        ).filter(F.length("word") > 0)
    )
    markers = (
        words.groupBy("word")
        .agg(F.count("*").alias("cw"))
        .orderBy(F.desc("cw"), "word")
        .limit(_STYLO_M)
        .select("word")
    )
    totals = words.groupBy("source").agg(F.count("*").alias("nt"))
    counts = (
        words.join(F.broadcast(markers), "word")
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    grid = (
        totals.crossJoin(F.broadcast(markers))
        .join(counts, ["source", "word"], "left")
        .select(
            "source",
            "word",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("nt")).alias("f"),
        )
    )
    # zero-variance markers (identical relative frequency in every
    # source) carry no discriminating signal and make z undefined —
    # the standard Delta treatment is to drop them (n_markers reports
    # the surviving count)
    stats = grid.groupBy("word").agg(
        F.avg("f").alias("mu"), F.stddev_samp("f").alias("sd")
    ).filter(F.col("sd") > 0)
    z = grid.join(stats, "word").select(
        "source",
        "word",
        F.round((F.col("f") - F.col("mu")) / F.col("sd") + 1e-12, 8).alias(
            "z"
        ),
    )
    za = z.select(
        F.col("source").alias("s_a"), "word", F.col("z").alias("z_a")
    )
    zb = z.select(
        F.col("source").alias("s_b"), "word", F.col("z").alias("z_b")
    )
    pairs = (
        za.join(zb, "word")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(
            F.expr("round(avg(abs(z_a - z_b)) + 1e-9, 6) + 0.0").alias(
                "delta"
            ),
            F.count("*").cast("long").alias("n_markers"),
        )
    )
    return pairs.orderBy("delta", "s_a", "s_b").limit(_STYLO_TOP)


source_stylometry_delta.__doc__ = source_stylometry_delta.__doc__.format(
    M=_STYLO_M, T=_STYLO_TOP
)

SOURCE_STYLOMETRY_DELTA_SQL = f"""
WITH words AS (
  SELECT source, word
  FROM (SELECT source,
               unnest(string_split({_NORM_SQL.format(col='text')}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
markers AS (
  SELECT word FROM (
    SELECT word, count(*) AS cw FROM words GROUP BY word
    ORDER BY cw DESC, word LIMIT {_STYLO_M}
  ) m
),
totals AS (SELECT source, count(*) AS nt FROM words GROUP BY source),
counts AS (
  SELECT w.source, w.word, count(*) AS c
  FROM words w JOIN markers mk ON w.word = mk.word
  GROUP BY w.source, w.word
),
grid AS (
  SELECT t.source, mk.word,
         coalesce(c.c, 0) / CAST(t.nt AS DOUBLE) AS f
  FROM totals t CROSS JOIN markers mk
  LEFT JOIN counts c ON t.source = c.source AND mk.word = c.word
),
stats AS (
  SELECT word, avg(f) AS mu, stddev_samp(f) AS sd FROM grid GROUP BY word
  HAVING stddev_samp(f) > 0
),
z AS (
  SELECT g.source, g.word,
         round((g.f - s.mu) / s.sd + 1e-12, 8) AS z
  FROM grid g JOIN stats s ON g.word = s.word
),
pairs AS (
  SELECT a.source AS s_a, b.source AS s_b,
         round(avg(abs(a.z - b.z)) + 1e-9, 6) + 0.0 AS delta,
         count(*) AS n_markers
  FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s_a, s_b, delta, n_markers
FROM pairs ORDER BY delta, s_a, s_b LIMIT {_STYLO_TOP}
"""


# --------------------------------------------------------------------------
# Cohen's kappa: chance-corrected lang-ID agreement
# --------------------------------------------------------------------------


def lang_id_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the declared language metadata and the
    n-gram detector — the CHANCE-CORRECTED agreement scalar the raw
    confusion matrix (lang_confusion_matrix) doesn't give: with one
    dominant language, raw agreement is high by base rate alone;
    kappa = (p_o − p_e)/(1 − p_e) subtracts exactly that.

    Everything reduces to the languages² contingency cells: p_o from
    the diagonal, p_e from the marginal products (re-aggregated FROM
    the cells, no second scan). Integer counts → exact ratios.
    """
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("declared"),
        TX.lang_id(F.col("text")).alias("pred"),
    )
    cells = tracked_persist(
        pred.groupBy("declared", "pred").agg(F.count("*").alias("n"))
    )
    rows = cells.groupBy("declared").agg(F.sum("n").alias("r"))
    cols = cells.groupBy("pred").agg(F.sum("n").alias("c"))
    tot = cells.agg(F.sum("n").cast("double").alias("nn"))
    po = cells.filter(F.col("declared") == F.col("pred")).agg(
        F.sum("n").alias("diag")
    )
    pe = (
        rows.join(cols, rows.declared == cols.pred)
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(F.col("r") * F.col("c") / (F.col("nn") * F.col("nn"))).alias("pe"))
    )
    return (
        tot.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe))
        .select(
            F.col("nn").cast("long").alias("n_docs"),
            F.expr("round(diag / nn + 1e-9, 6) + 0.0").alias("p_observed"),
            F.expr("round(pe + 1e-9, 6) + 0.0").alias("p_expected"),
            F.expr(
                "round((diag / nn - pe) / (1.0 - pe) + 1e-9, 6) + 0.0"
            ).alias("kappa"),
        )
    )


LANG_ID_COHENS_KAPPA_SQL = rf"""
WITH pred AS (
  SELECT labeled_lang AS declared, pred_lang AS pred
  FROM ({TEXT_LANG_ID_SQL.replace("ORDER BY doc_id", "")}) t
),
cells AS (
  SELECT declared, pred, count(*) AS n FROM pred GROUP BY declared, pred
),
r AS (SELECT declared, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY declared),
c AS (SELECT pred, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY pred),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM cells),
po AS (SELECT CAST(sum(n) AS BIGINT) AS diag FROM cells WHERE declared = pred),
pe AS (
  SELECT sum(r.r * c.c / (tot.nn * tot.nn)) AS pe
  FROM r JOIN c ON r.declared = c.pred CROSS JOIN tot
)
SELECT CAST(tot.nn AS BIGINT) AS n_docs,
       round(po.diag / tot.nn + 1e-9, 6) + 0.0 AS p_observed,
       round(pe.pe + 1e-9, 6) + 0.0 AS p_expected,
       round((po.diag / tot.nn - pe.pe) / (1.0 - pe.pe) + 1e-9, 6) + 0.0
         AS kappa
FROM tot CROSS JOIN po CROSS JOIN pe
"""


# --------------------------------------------------------------------------
# Flesch reading ease (per source)
# --------------------------------------------------------------------------

_SYL_RE = "[aeiouy]+"  # vowel-group syllable proxy
_SENT_RE = "[.!?]"


def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per source: 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words), with the standard cheap proxies
    (vowel-group runs ≈ syllables, terminal punctuation ≈ sentences) —
    the readability axis of corpus quality next to text_quality's
    length/punctuation score: a source whose Flesch collapses is
    boilerplate/code/tables, not prose, whatever its dedup stats say.

    Pure regex-count projection (codegen'd; identical POSIX classes
    both engines) feeding one per-source aggregate — per-doc ratios
    are exact-integer-derived with guarded denominators, and the
    score is averaged over docs (not recomputed from pooled counts)
    so one megadoc can't dominate the source's number.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    per_doc = docs.select(
        "source",
        F.greatest(
            F.size(F.split(F.trim(t), r"\s+")), F.lit(1)
        ).alias("words"),
        F.greatest(F.regexp_count(t, F.lit(_SENT_RE)), F.lit(1)).alias(
            "sents"
        ),
        F.greatest(F.regexp_count(t, F.lit(_SYL_RE)), F.lit(1)).alias(
            "sylls"
        ),
    ).select(
        "source",
        F.expr(
            "round(206.835 - 1.015 * (words / CAST(sents AS DOUBLE))"
            " - 84.6 * (sylls / CAST(words AS DOUBLE)) + 1e-9, 6)"
        ).alias("flesch"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("round(avg(flesch) + 1e-9, 4) + 0.0").alias("avg_flesch"),
            F.expr("round(min(flesch) + 1e-9, 4) + 0.0").alias("min_flesch"),
        )
        .orderBy("source")
    )


TEXT_READABILITY_FLESCH_SQL = rf"""
WITH per_doc AS (
  SELECT source,
         round(206.835
               - 1.015 * (greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1)
                          / CAST(greatest(len(regexp_extract_all(lower(text), '{_SENT_RE}')), 1) AS DOUBLE))
               - 84.6 * (greatest(len(regexp_extract_all(lower(text), '{_SYL_RE}')), 1)
                          / CAST(greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS DOUBLE))
               + 1e-9, 6) AS flesch
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(avg(flesch) + 1e-9, 4) + 0.0 AS avg_flesch,
       round(min(flesch) + 1e-9, 4) + 0.0 AS min_flesch
FROM per_doc GROUP BY source ORDER BY source
"""



_FH_BUCKETS = 1024


def text_hashed_ngram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009 — feature hashing):
    project the unbounded token vocabulary onto a FIXED {B}-bucket
    feature space with a portable hash, the standard way a training
    pipeline gets bounded-width sparse features without materializing
    (or shipping) a vocabulary. Emits the per-bucket feature table —
    token mass and how many distinct words collided into the bucket —
    i.e. both the feature vector the model would consume and the
    collision audit that prices the trick's information loss.

    Hash is the repo's engine-portable md5 idiom (conv(substr(md5,
    1, 15)) % {B}), so both engines bucket identically. One explode
    off the memoized tokenized corpus, one {B}-bounded aggregate;
    at 100 TB the explode is map-local and the shuffle carries at
    most {B} partials per partition.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    toks = (
        doc_words(spark, sf_dir)
        .select(F.explode("words").alias("word"))
        .filter(F.length("word") > 0)
        .select(
            "word",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("fh:"), F.col("word"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % _FH_BUCKETS
            ).alias("bucket"),
        )
    )
    return (
        toks.groupBy("bucket")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("word").alias("n_distinct_words"),
        )
        .orderBy("bucket")
    )


text_hashed_ngram_features.__doc__ = text_hashed_ngram_features.__doc__.format(
    B=_FH_BUCKETS
)


TEXT_HASHED_NGRAM_FEATURES_SQL = f"""
WITH toks AS (
  SELECT word,
         ('0x' || substr(md5('fh:' || word), 1, 15))::BIGINT % {_FH_BUCKETS}
           AS bucket
  FROM (SELECT unnest(string_split({_NORM_SQL.format(col='text')}, ' '))
          AS word FROM documents)
  WHERE length(word) > 0
)
SELECT bucket, count(*) AS n_tokens,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words
FROM toks GROUP BY bucket ORDER BY bucket
"""


QUERIES = {
    "text_hashed_ngram_features": text_hashed_ngram_features,
    "source_stylometry_delta": source_stylometry_delta,
    "lang_id_cohens_kappa": lang_id_cohens_kappa,
    "text_readability_flesch": text_readability_flesch,
    "text_rake_keywords": text_rake_keywords,

    "text_char_ngram_entropy": text_char_ngram_entropy,
    "text_token_stats": text_token_stats,
    "lang_confusion_matrix": lang_confusion_matrix,
    "text_tfidf_topk": text_tfidf_topk,
    "text_bm25_topk": text_bm25_topk,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_winnowing_fingerprint": text_winnowing_fingerprint,
    "lang_nb_confusion": lang_nb_confusion,
    "text_good_turing": text_good_turing,
    "retrieval_ndcg_agreement": retrieval_ndcg_agreement,
    "text_word_burstiness": text_word_burstiness,
    "docs_boilerplate_ngrams": docs_boilerplate_ngrams,
    "docs_source_profile": docs_source_profile,
}

ORACLES = {
    "text_hashed_ngram_features": TEXT_HASHED_NGRAM_FEATURES_SQL,
    "source_stylometry_delta": SOURCE_STYLOMETRY_DELTA_SQL,
    "lang_id_cohens_kappa": LANG_ID_COHENS_KAPPA_SQL,
    "text_readability_flesch": TEXT_READABILITY_FLESCH_SQL,
    "text_rake_keywords": TEXT_RAKE_KEYWORDS_SQL,

    "text_char_ngram_entropy": TEXT_CHAR_NGRAM_ENTROPY_SQL,
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_tfidf_topk": TEXT_TFIDF_TOPK_SQL,
    "text_bm25_topk": TEXT_BM25_TOPK_SQL.format(
        norm=_NORM_SQL.format(col="text"), terms=_TFIDF_IN
    ),
    "text_quality": TEXT_QUALITY_SQL,
    "text_lang_id": TEXT_LANG_ID_SQL,
    "lang_confusion_matrix": LANG_CONFUSION_MATRIX_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_winnowing_fingerprint": TEXT_WINNOWING_FINGERPRINT_SQL,
    "lang_nb_confusion": LANG_NB_CONFUSION_SQL,
    "text_good_turing": TEXT_GOOD_TURING_SQL,
    "retrieval_ndcg_agreement": _ndcg_oracle_sql(),
    "text_word_burstiness": TEXT_WORD_BURSTINESS_SQL,
    "docs_boilerplate_ngrams": DOCS_BOILERPLATE_NGRAMS_SQL,
    "docs_source_profile": DOCS_SOURCE_PROFILE_SQL,
}
