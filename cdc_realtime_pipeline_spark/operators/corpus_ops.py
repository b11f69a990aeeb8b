"""Corpus-preparation operators beyond the first-pass pipeline: the
cluster/pack/split/profile steps a production training-data job runs
after dedup scoring.

All are declarative DataFrame plans except the connected-components
loop, whose per-iteration step (join + min-aggregate) is itself
declarative — the driver only steers convergence (a scalar count per
iteration, never row data).

Scale notes per operator are on the definitions; everything shuffles
on bounded keys (doc_id / shard / label / token), no cross joins, no
collect of row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.operators.dedup import (
    DEDUP_DOCS_JACCARD_SQL,
    DOCS_WITH_DUPES_CTE,
    NORMALIZE_SQL,
    _HASH64_SQL,
    _hash64,
    dedup_docs_jaccard,
    doc_words,
    docs_with_dupes,
    normalize_text,
)
from cdc_realtime_pipeline_spark.session import (
    load_table,
    memo,
    tracked_persist,
)

PACK_TOKEN_BUDGET = 512
VOCAB_TOP_K = 50
HIST_BIN_TOKENS = 50
HIST_MAX_BIN = 19


def dup_clusters_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-dup pairs → dedup clusters.

    Pairwise near-dup scores (here: the Jaccard ≥ τ pairs) are not a
    dedup decision until transitively closed — A≈B, B≈C must collapse
    to one cluster with one survivor. Min-label propagation: every doc
    starts labeled with its own id; each round takes the min of its
    own and its neighbors' labels; converges to the component-minimum
    id in ≤ diameter rounds. Each round is one join + one min-aggregate
    (the standard large-graph CC under map/reduce — GraphX/Pregel run
    the identical step); the driver sees only a changed-row count per
    round, never data.

    Output: (component, n_members, survivor) per cluster — survivor =
    min doc_id, the same keep-min rule every exact dedup here uses.
    """
    labels = _dup_component_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(F.count("*").alias("n_members"), F.min("doc_id").alias("survivor"))
        .orderBy("component")
    )


@memo("neardup_cc_labels")
def _dup_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label-propagation CC over the Jaccard near-dup edges →
    (doc_id, label) for every doc touching an edge. Shared by the
    cluster summary above, the canonical-selection audit below, and
    (session-memoized, r8 — the `_shared_shingles` discipline) every
    dup-graph query that starts from components: the propagation loop
    runs once per session, not once per consuming query."""
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = tracked_persist(
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    )
    cached = tracked_persist(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    labels = cached
    # Convergence is checked only every SECOND round (VERDICT r7 #5,
    # measured): one propagation round over the fixture's tiny label
    # relation costs ~0.9 s of plan analysis + ~1.3 s of job launch —
    # pure per-action overhead, not data — so halving the action count
    # beats making rounds smarter. (The pointer-jump/star variants were
    # measured too: the fixture's clusters converge in 2 plain rounds —
    # pairs and near-pairs, component min one hop away — so an extra
    # |V|-keyed shortcut join per round only ADDED ~1 s/round. They win
    # only when diameter ≫ 2; if a probe ever shows deep chains, fuse
    # label-of-label back in.) The no-change test is `isEmpty`, not a
    # count — existence is all the loop needs.
    pending_unpersist: list = []
    for rnd in range(20):  # fixture diameter ≤ 3; bound defensively
        nbr_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # tracked too: the FINAL round's cache must outlive this function
        # (the returned plan reads it); release_caches() reclaims it later
        new_cached = tracked_persist(
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
        )
        pending_unpersist.append(cached)
        cached = new_cached
        labels = new_cached.select("doc_id", "label")
        if rnd % 2 == 1 or rnd == 19:
            # the isEmpty action materializes new_cached (and the
            # unmaterialized odd round feeding it), so earlier caches
            # can drop without recompute risk
            converged = new_cached.filter(F.col("_changed")).isEmpty()
            while pending_unpersist:
                pending_unpersist.pop().unpersist()
            if converged:
                break
    # localCheckpoint decouples the memoized result from the loop's
    # tracked caches: release_caches() CASCADES through dependent
    # cached plans, so a plain persist of this select would be dropped
    # with the loop rounds — checkpointed partitions are RDD storage,
    # outside CacheManager's cascade (the dup_graph_pagerank idiom).
    # CLUSTER-SCALE CAVEAT (ADVICE r8): localCheckpoint is
    # NON-RELIABLE storage with lineage truncated — on a real cluster
    # a lost executor loses partitions that can no longer be
    # recomputed, failing later dup-graph queries in the session. At
    # cluster scale, point spark.checkpoint.dir at durable storage and
    # use labels.checkpoint() (reliable) here instead, or let callers
    # rebuild via release_memos() on task failure; on local[n] (this
    # harness) executor loss is process death, so the cheap form is
    # the right trade.
    return labels.localCheckpoint()


DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jac
),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.u AS node, reach.r
  FROM edges e JOIN reach ON e.v = reach.node
)
SELECT min(r) AS component, count(DISTINCT node) AS n_members,
       min(node) AS survivor
FROM (SELECT node, min(r) AS r FROM reach GROUP BY node)
GROUP BY r ORDER BY component
"""


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection inside each near-dup cluster — the
    decision step after transitive closure: every cluster keeps its
    LONGEST member (truncated crawls and partial copies lose to the
    full text; public near-dup recipes keep longest or highest-quality
    — length is the deterministic variant), tie → min doc_id.

    Shape: the shared CC labels (one keyed join + min-agg per
    propagation round, see `_dup_component_labels`) joined to the doc
    lengths, then ONE ``row_number`` window per component — the window
    partitions on the component key, so at 100 TB the sort is
    per-cluster (clusters are small by construction; a pathological
    mega-cluster is itself the signal to fix the τ threshold).

    Output per component: the canonical pick, members, and how many
    chars of duplicated text the cluster drops — the "bytes saved"
    number a dedup run reports.
    """
    labels = _dup_component_labels(spark, sf_dir)
    lens = docs_with_dupes(spark, sf_dir).select(
        "doc_id", F.length("text").alias("n_chars")
    )
    ranked = labels.join(lens, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("label").orderBy(F.desc("n_chars"), "doc_id")
        ),
    )
    return (
        ranked.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("canonical_chars"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "dropped_chars"
            ),
        )
        .orderBy("component")
    )


DEDUP_CLUSTER_CANONICAL_SQL = f"""
WITH RECURSIVE jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jac
),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.u AS node, reach.r
  FROM edges e JOIN reach ON e.v = reach.node
),
labels AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
{DOCS_WITH_DUPES_CTE.strip()},
ranked AS (
  SELECT l.component, l.doc_id, length(d.text) AS n_chars,
         row_number() OVER (
           PARTITION BY l.component ORDER BY length(d.text) DESC, l.doc_id
         ) AS rn
  FROM labels l JOIN docs d ON l.doc_id = d.doc_id
)
SELECT component,
       count(*) AS n_members,
       max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       max(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars,
       CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
FROM ranked
GROUP BY component
ORDER BY component
"""


_PAGERANK_ITERS = 3
_PR_DAMP = 0.85


def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup graph: {iters} PageRank iterations
    (damping {damp}) on the symmetric Jaccard-pair edges — ranks the
    "canonical center" of each dup cluster (the doc most copies point
    at), the survivor-selection signal beyond CC's min-id rule.

    The iterative-join family's second member next to connected
    components (dup_clusters) and k-means (embeddings_kmeans_train) —
    but unlike CC there is NO driver steering at all: the fixed
    iteration count unrolls into one declarative plan (per iteration:
    contribution join on the edge key + node-keyed sum — the standard
    map/reduce PageRank step, rank relation stays node-sized). Every
    node has degree ≥ 1 (nodes come from edges), so there is no
    dangling-mass term.

    Edges + degrees are ``localCheckpoint``-ed, not merely persisted:
    the unrolled plan references them 4× each, and every reference
    embeds the FULL near-dup candidate lineage, so with plain persist
    the driver's analyze/optimize pass dominates (measured 5.4 s warm
    at sf0.1 → 2.8 s after truncation; the data itself is node-sized).
    Lineage truncation is the standard treatment for iterative
    algorithms (GraphX checkpoints the same way); both relations are
    edge/node-sized, so executor-local storage is trivial. The
    symmetric edge set is one explode pass (both directions per pair),
    not a self-union that would read the verify stage twice.

    Cross-engine: each iteration's rank is rounded to 6dp (+1e-9
    nudge) on BOTH engines before feeding the next, so float summation
    order can never accumulate across iterations.
    """
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    deg = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count("*").alias("degree"))
        .localCheckpoint()
    )
    ranks = deg.select("doc_id", "degree", F.lit(1.0).alias("rank"))
    for _ in range(_PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .select(
                F.col("dst").alias("doc_id"),
                (F.col("rank") / F.col("degree")).alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = deg.join(contrib, "doc_id", "left").select(
            "doc_id",
            "degree",
            F.round(
                (1 - _PR_DAMP) + _PR_DAMP * F.coalesce("s", F.lit(0.0)) + 1e-9, 6
            ).alias("rank"),
        )
    return ranks.select("doc_id", "degree", F.col("rank").alias("pagerank")).orderBy(
        "doc_id"
    )


dup_graph_pagerank.__doc__ = dup_graph_pagerank.__doc__.format(
    iters=_PAGERANK_ITERS, damp=_PR_DAMP
)


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
contrib_{out} AS (
  SELECT e.v AS node, sum(r.rank / r.degree) AS s
  FROM edges e JOIN {prev} r ON e.u = r.node
  GROUP BY e.v
),
{out} AS (
  SELECT d.node, d.degree,
         round({1 - _PR_DAMP} + {_PR_DAMP} * coalesce(c.s, 0) + 1e-9, 6) AS rank
  FROM deg d LEFT JOIN contrib_{out} c ON c.node = d.node
)"""


DUP_GRAPH_PAGERANK_SQL = f"""
WITH jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
deg AS (
  SELECT u AS node, count(*) AS degree FROM edges GROUP BY u
),
r0 AS (
  SELECT node, degree, 1.0 AS rank FROM deg
),{_pr_iter_sql("r0", "r1")},{_pr_iter_sql("r1", "r2")},{_pr_iter_sql("r2", "r3")}
SELECT node AS doc_id, CAST(degree AS BIGINT) AS degree, rank AS pagerank
FROM r3 ORDER BY doc_id
"""


def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the near-dup
    graph — the graph family's third member next to connected
    components (cluster membership) and PageRank (centrality):
    triangles measure how *transitive* the duplicate relation is (a
    near-dup cluster from one source is clique-like, clustering → 1;
    chained paraphrase drift is path-like, clustering → 0).

    The classic two-join count on id-oriented edges: every edge is
    stored once as (a < b), and a triangle a<b<c is found exactly once
    as e(a,b) ⋈ e(b,c) ⋈ e(a,c) — no duplicate counting, no
    symmetrization. At web scale the standard refinement is to orient
    edges by DEGREE instead of id (each triangle charged to its
    lowest-degree vertex, bounding the join fan-out of hub nodes);
    id-orientation keeps the oracle trivially portable and the fixture
    graphs are bounded-degree. Wedges Σ d(d−1)/2 come from one
    degree aggregate; the coefficient is 3·triangles / wedges.

    Edges are ``localCheckpoint``-ed like PageRank's: the plan
    references them three times and each reference would otherwise
    re-embed the full candidate-generation lineage.
    """
    pairs = (
        dedup_docs_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    e2 = pairs.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = pairs.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        pairs.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
        F.count("*").alias("n_nodes"),
    )
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(0.0)
                + 1e-9,
                6,
            ).alias("clustering_coef"),
        )
    )


DUP_GRAPH_TRIANGLES_SQL = f"""
WITH jac AS ({DEDUP_DOCS_JACCARD_SQL}),
e AS (SELECT doc_a AS a, doc_b AS b FROM jac),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node
),
w AS (
  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
         count(*) AS n_nodes
  FROM deg
)
SELECT (SELECT count(*) FROM e) AS n_edges,
       w.n_nodes,
       tri.n_triangles,
       w.n_wedges,
       round(CASE WHEN w.n_wedges > 0
                  THEN 3.0 * tri.n_triangles / w.n_wedges
                  ELSE 0.0 END + 1e-9, 6) AS clustering_coef
FROM tri, w
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )


_DOC_TOKENS_SQL = r"""
doc_tokens AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
)
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: docs stream in deterministic
    order (shard, then doc_id), a running token offset assigns each doc
    to bin = floor(start_offset / budget) — the packing a dataloader
    applies when it concatenates documents into fixed-length training
    sequences.

    One window cumsum per shard partition (shard keys bound the
    window's state; no global sort), then a plain group-by per bin.
    """
    shard = F.pmod(_hash64(F.col("doc_id").cast("string"), 7), F.lit(8)).alias("shard")
    toks = _doc_tokens(spark, sf_dir).select("doc_id", "n_tokens", shard)
    w = Window.partitionBy("shard").orderBy("doc_id")
    packed = toks.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TOKEN_BUDGET
        ).cast("long"),
    )
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard", "bin")
    )


CORPUS_PACK_SEQUENCES_SQL = f"""
WITH {_DOC_TOKENS_SQL.strip()},
sharded AS (
  SELECT doc_id, n_tokens,
         (({_HASH64_SQL.format(salt=7, col="CAST(doc_id AS VARCHAR)")}) % 8 + 8) % 8 AS shard
  FROM doc_tokens
),
packed AS (
  SELECT *, CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS bin
  FROM sharded
)
SELECT shard, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc
FROM packed GROUP BY shard, bin ORDER BY shard, bin
"""


def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (90/5/5 train/val/test) — the split must
    be a pure function of the document identity so re-runs, different
    cluster sizes, and incremental arrivals can never leak documents
    across splits. Pure projection + one group-by; no shuffle of text.
    """
    h = F.pmod(_hash64(F.col("doc_id").cast("string"), 13), F.lit(100))
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test").alias("split")
    )
    toks = _doc_tokens(spark, sf_dir).select("doc_id", "n_tokens", split)
    return (
        toks.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("split")
    )


CORPUS_TRAIN_VAL_SPLIT_SQL = f"""
WITH {_DOC_TOKENS_SQL.strip()},
assigned AS (
  SELECT doc_id, n_tokens,
         CASE WHEN (({_HASH64_SQL.format(salt=13, col="CAST(doc_id AS VARCHAR)")}) % 100 + 100) % 100 < 90 THEN 'train'
              WHEN (({_HASH64_SQL.format(salt=13, col="CAST(doc_id AS VARCHAR)")}) % 100 + 100) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM doc_tokens
)
SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_doc
FROM assigned GROUP BY split ORDER BY split
"""


def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-K tokens by frequency over
    normalized text. Explode → count (map-side partial combine does the
    heavy lifting) → global top-K via one final ordered limit on the
    already-aggregated token counts — never a sort of raw tokens.
    """
    docs = doc_words(spark, sf_dir)
    words = docs.select(F.explode("words").alias("token")).filter(
        F.length("token") > 0
    )
    counts = words.groupBy("token").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(VOCAB_TOP_K)


CORPUS_VOCAB_TOPK_SQL = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS token
      FROM documents)
WHERE length(token) > 0
GROUP BY token
ORDER BY n DESC, token ASC LIMIT {VOCAB_TOP_K}
"""


ZIPF_FIT_HEAD = 1000  # fit on the frequency head; the tail bends off the law


def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary — the standard
    sanity diagnostic for a text corpus (natural language reads slope
    ≈ −1 on log-frequency vs log-rank; a corpus of boilerplate/
    machine-generated text bends away from it). Token counts → rank
    by (count desc, token) → OLS of ln(count) on ln(rank) over the
    head (tail ranks always deviate), via the same algebraic
    ``regr_*`` moments the conformance row pins — slope, intercept,
    and R² in ONE aggregate over the head relation.

    Scale: the corpus-sized work is the map-side-combined token
    count; ranking runs on the VOCAB-sized aggregate (the bounded
    relation — same trade as the RFM global ntile, documented there),
    and the regression consumes ``ZIPF_FIT_HEAD`` rows. Tie-free
    cross-engine: rank order is (n desc, token asc) — total on the
    vocabulary.
    """
    docs = doc_words(spark, sf_dir)
    words = docs.select(F.explode("words").alias("token")).filter(
        F.length("token") > 0
    )
    counts = words.groupBy("token").agg(F.count("*").alias("n"))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token"))),
    ).filter(F.col("rank") <= ZIPF_FIT_HEAD)
    ln_n, ln_r = F.log(F.col("n").cast("double")), F.log(
        F.col("rank").cast("double")
    )
    return ranked.agg(
        F.count("*").alias("n_fit"),
        F.max("n").alias("top_count"),
        (F.round(F.regr_slope(ln_n, ln_r), 6) + 0.0).alias("zipf_slope"),
        (F.round(F.regr_intercept(ln_n, ln_r), 6) + 0.0).alias("zipf_icept"),
        (F.round(F.regr_r2(ln_n, ln_r), 6) + 0.0).alias("zipf_r2"),
    )


CORPUS_ZIPF_FIT_SQL = f"""
WITH counts AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS token
        FROM documents)
  WHERE length(token) > 0
  GROUP BY token
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT count(*) AS n_fit,
       max(n) AS top_count,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) + 0.0 AS zipf_slope,
       round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) + 0.0 AS zipf_icept,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) + 0.0 AS zipf_r2
FROM ranked WHERE rank <= {ZIPF_FIT_HEAD}
"""


BPE_TOP_PAIRS = 50


def tokenizer_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary-induction statistic (Sennrich et al. 2016): the
    adjacent-symbol-pair frequencies over the word-frequency table —
    the quantity each BPE training iteration maximizes to pick its
    next merge. Emits the top pairs by corpus count, i.e. the first
    merges a tokenizer trained on this corpus would learn.

    Spark-first shape: the pair statistic aggregates the VOCABULARY
    (distinct words + counts), not the token stream — pair counts per
    word are computed once and weighted by word frequency, so the
    explode is |vocab|×avg_word_len, corpus-size-independent once the
    word-count aggregate (map-side combinable) is done. Pair
    extraction is a JVM-side ``transform(sequence(...))`` over 2-char
    substrings — no Python in the loop. The full BPE training loop
    applies the winning merge and re-counts — the iterative
    join+agg-per-round pattern of dup_clusters_connected_components /
    dup_graph_pagerank; one iteration is the oracle-checkable unit
    (later iterations depend on re-tokenization state, not new
    operator shapes).
    """
    docs = doc_words(spark, sf_dir)
    words = (
        docs.select(F.explode("words").alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


TOKENIZER_BPE_PAIR_COUNTS_SQL = f"""
WITH words AS (
  SELECT word, count(*) AS wc
  FROM (SELECT unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS word
        FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
),
pairs AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, wc
  FROM words, LATERAL (SELECT unnest(range(1, length(word))) AS i)
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT {BPE_TOP_PAIRS}
"""


CN_TOP = 20


def dup_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the near-dup graph (the
    Liben-Nowell/Kleinberg baseline): for doc pairs at distance 2
    count shared neighbors and score the neighborhood Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)|, labeling each pair edge / non-edge —
    non-edge rows are the "these two are probably copies the banding
    missed" triage list (a high-CN non-edge usually means the MinHash
    bands straddled the threshold), edge rows rank the strongest
    closed triads (on a fixture whose planted clusters are cliques,
    every wedge closes — the label keeps the output non-vacuous and
    pins BOTH cases).

    Shape: the wedge join (sym-edges ⋈ sym-edges on the shared
    neighbor) fans out by degree², bounded by dup-cluster size, never
    corpus²; existing edges drop via a left-anti join on the ordered
    pair; degrees come from the same symmetric relation. Edge list is
    localCheckpoint-ed like PageRank's (referenced 4×, and every
    reference would otherwise re-embed the full candidate lineage).
    """
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint()
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    wedges = (
        sym.select(F.col("u").alias("a"), F.col("v").alias("n"))
        .join(sym.select(F.col("u").alias("n"), F.col("v").alias("b")), "n")
        .filter(F.col("a") < F.col("b"))
    )
    cand = wedges.groupBy("a", "b").agg(F.count("*").alias("cn"))
    labeled = cand.join(
        pairs.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b"), F.lit(1).alias("_e")
        ),
        ["a", "b"],
        "left",
    ).select("a", "b", "cn", F.coalesce("_e", F.lit(0)).cast("long").alias("is_edge"))
    scored = (
        labeled.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "cn",
            "is_edge",
            F.expr("round(cn / (da + db - cn) + 1e-9, 6) + 0.0").alias("nbr_jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("nbr_jaccard"), F.desc("cn"), "a", "b"
    ).limit(CN_TOP)


DUP_GRAPH_COMMON_NEIGHBORS_SQL = f"""
WITH jac AS ({DEDUP_DOCS_JACCARD_SQL}),
pairs AS (SELECT doc_a, doc_b FROM jac),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
cand AS (
  SELECT e1.u AS a, e2.v AS b, count(*) AS cn
  FROM sym e1 JOIN sym e2 ON e1.v = e2.u AND e1.u < e2.v
  GROUP BY a, b
),
labeled AS (
  SELECT c.a, c.b, c.cn,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM pairs p
                                WHERE p.doc_a = c.a AND p.doc_b = c.b)
              THEN 1 ELSE 0 END AS BIGINT) AS is_edge
  FROM cand c
)
SELECT n.a, n.b, CAST(n.cn AS BIGINT) AS cn, n.is_edge,
       round(n.cn / (ia.d + ib.d - n.cn) + 1e-9, 6) + 0.0 AS nbr_jaccard
FROM labeled n
JOIN deg ia ON n.a = ia.node
JOIN deg ib ON n.b = ib.node
ORDER BY nbr_jaccard DESC, cn DESC, a, b
LIMIT {CN_TOP}
"""


COVERAGE_CUTOFFS = [100, 1000, 10000]


def corpus_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of token OCCURRENCES
    covered by the top-{100, 1k, 10k} vocabulary ranks — the curve
    read to pick a tokenizer vocab budget (where it flattens, extra
    vocab buys nothing) and the aggregate twin of the per-source OOV
    rate (corpus_oov_rate answers "which source diverges"; this
    answers "how big must the head be").

    Shape: corpus-scale work is only the map-side-combinable token
    count; the rank window and cumulative sum run on the VOCAB-sized
    aggregate (the documented RFM/equidepth total-sort trade), then
    one row per cutoff via a bounded cross join. Integer cumulative
    counts; shares are exact-integer-derived doubles rounded 6dp.
    """
    docs = doc_words(spark, sf_dir)
    toks = docs.select(F.explode("words").alias("token")).filter(
        F.length("token") > 0
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = vocab.select(
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    totals = vocab.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    cuts = spark.createDataFrame(
        [(c,) for c in COVERAGE_CUTOFFS], "cutoff long"
    )
    at_cut = (
        ranked.join(F.broadcast(cuts), F.col("rank") <= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(F.max("cum").cast("long").alias("tokens_covered"))
    )
    return (
        at_cut.crossJoin(F.broadcast(totals))
        .select(
            "cutoff",
            "tokens_covered",
            "total_tokens",
            "vocab_size",
            F.expr("round(tokens_covered / total_tokens + 1e-9, 6) + 0.0").alias(
                "coverage"
            ),
        )
        .orderBy("cutoff")
    )


CORPUS_VOCAB_COVERAGE_CURVE_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS token
  FROM documents
),
vocab AS (
  SELECT token, count(*) AS n FROM toks WHERE length(token) > 0 GROUP BY token
),
ranked AS (
  SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
         sum(n) OVER (ORDER BY n DESC, token ASC ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS cum
  FROM vocab
),
totals AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size
  FROM vocab
),
cuts AS (SELECT unnest({COVERAGE_CUTOFFS}) AS cutoff)
SELECT CAST(c.cutoff AS BIGINT) AS cutoff,
       CAST(max(r.cum) AS BIGINT) AS tokens_covered,
       t.total_tokens,
       t.vocab_size,
       round(max(r.cum) / CAST(t.total_tokens AS DOUBLE) + 1e-9, 6) + 0.0
         AS coverage
FROM ranked r
JOIN cuts c ON r.rank <= c.cutoff
CROSS JOIN totals t
GROUP BY c.cutoff, t.total_tokens, t.vocab_size
ORDER BY cutoff
"""


BPE_TRAIN_STEPS = 5


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The K-step BPE training loop (see ``tokenizer_bpe_train_merges``
    for the full account) — factored so the ENCODE leg can reuse the
    identical merges and final vocabulary. Returns (tops, snapshots):
    the per-step argmax rows and the persisted (word, wc, syms)
    vocabulary after each merge."""
    docs = doc_words(spark, sf_dir)
    words = (
        docs.select(F.explode("words").alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    vocab = tracked_persist(
        words.select("word", "wc", F.split("word", "").alias("syms"))
    )
    pair_expr = (
        "IF(size(syms) < 2, array(),"
        " transform(sequence(1, size(syms) - 1),"
        " i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1))))"
    )
    tops = []
    snapshots = []
    for step in range(1, BPE_TRAIN_STEPS + 1):
        top = (
            vocab.select("wc", F.explode(F.expr(pair_expr)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("wc").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .first()  # scalar driver action, one per merge step
        )
        a, b = top.pair.split(" ")
        m = a + b
        fold = (
            "aggregate(syms, cast(array() as array<string>),"
            f" (acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = '{a}'"
            f" AND s = '{b}',"
            f" concat(slice(acc, 1, size(acc) - 1), array('{m}')),"
            " concat(acc, array(s))))"
        )
        vocab = tracked_persist(
            vocab.select("word", "wc", F.expr(fold).alias("syms"))
        )
        tops.append(top)
        snapshots.append(vocab)
    return tops, snapshots


def tokenizer_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE training LOOP (Sennrich et al. 2016), not just
    its first-iteration statistic: {K} merge steps, each picking the
    most frequent adjacent symbol pair (count desc, pair asc
    tie-break) and re-tokenizing the vocabulary with it — emitting,
    per step, the learned merge, its corpus pair count, and the
    corpus token count after applying it (the compression curve a
    tokenizer budget decision reads).

    Spark-first shape (the iterative-refinement pattern of
    dup_clusters_connected_components): every pass runs over the
    VOCABULARY relation (distinct word, weight), never the corpus —
    the corpus is scanned exactly once to build word counts, after
    which each step is a bounded explode + map-side-combinable agg,
    corpus-size-independent. The driver sees one scalar row per step
    (the argmax pair — the CC-loop discipline: scalar-only driver
    actions); the merge itself is a JVM higher-order ``aggregate``
    back-merge fold over each word's symbol array, the exact
    leftmost-non-overlapping BPE re-tokenization (merging with the
    fold's last element is sound because a merge product a||b can
    never equal the pair's left symbol a, so a freshly-merged token
    can't re-trigger the same rule).

    The oracle unrolls the {K} steps as chained CTEs; each re-
    tokenization is a recursive CTE running the IDENTICAL back-merge
    fold per word (depth = word length, rows = Σ|word| — vocab-sized,
    the declarative mirror of the sequential fold).
    """
    tops, snapshots = _bpe_train(spark, sf_dir)
    # one batched action for all per-step compression readings (the
    # snapshots are persisted, so this re-executes nothing upstream)
    from functools import reduce

    counts_df = reduce(
        lambda x, y: x.unionAll(y),
        [
            v.agg(
                F.lit(i + 1).alias("step"),
                F.sum(F.col("wc") * F.size("syms")).cast("long").alias("n"),
            )
            for i, v in enumerate(snapshots)
        ],
    )
    n_by_step = {r.step: r.n for r in counts_df.collect()}
    rows = [
        (step, tops[step - 1].pair, int(tops[step - 1].cnt), int(n_by_step[step]))
        for step in range(1, BPE_TRAIN_STEPS + 1)
    ]
    return spark.createDataFrame(
        rows, "step int, merged_pair string, pair_count long, corpus_tokens long"
    )


tokenizer_bpe_train_merges.__doc__ = tokenizer_bpe_train_merges.__doc__.format(
    K=BPE_TRAIN_STEPS
)


def _bpe_oracle_parts() -> list[str]:
    """The unrolled K-step CTE chain (v0 → pairs/top/fold → vK) shared
    by the train and encode oracles — ONE SQL construction of the
    merges, mirroring ``_bpe_train`` on the Spark side."""
    parts = [
        f"""v0 AS MATERIALIZED (
  SELECT word, count(*) AS wc, string_split(word, '') AS syms
  FROM (SELECT unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS word
        FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
)"""
    ]
    for k in range(1, BPE_TRAIN_STEPS + 1):
        p = k - 1
        parts.append(f"""pairs{k} AS MATERIALIZED (
  SELECT v.syms[CAST(i AS INT)] || ' ' || v.syms[CAST(i AS INT) + 1] AS pair,
         v.wc
  FROM v{p} v, LATERAL (SELECT unnest(range(1, len(v.syms))) AS i)
)""")
        parts.append(f"""top{k} AS MATERIALIZED (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt,
         string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b,
         replace(pair, ' ', '') AS m
  FROM pairs{k} GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1
)""")
        parts.append(f"""f{k} AS (
  SELECT word, wc, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM v{p}
  UNION ALL
  SELECT f.word, f.wc, f.syms, f.i + 1,
         CASE WHEN len(f.acc) > 0 AND f.acc[len(f.acc)] = t.a
                   AND f.syms[f.i] = t.b
              THEN list_append(array_pop_back(f.acc), t.m)
              ELSE list_append(f.acc, f.syms[f.i]) END
  FROM f{k} f, top{k} t WHERE f.i <= len(f.syms)
)""")
        parts.append(f"""v{k} AS MATERIALIZED (
  SELECT word, wc, acc AS syms FROM f{k} WHERE i = len(syms) + 1
)""")
        parts.append(f"""out{k} AS (
  SELECT {k} AS step, t.pair AS merged_pair, t.cnt AS pair_count,
         (SELECT CAST(sum(wc * len(syms)) AS BIGINT) FROM v{k})
           AS corpus_tokens
  FROM top{k} t
)""")
    return parts


def _bpe_train_oracle_sql() -> str:
    """Unrolled {K}-step oracle: per step, a pair aggregate, an argmax
    CTE, and a recursive back-merge fold over each word."""
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM out{k}" for k in range(1, BPE_TRAIN_STEPS + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(_bpe_oracle_parts())
        + f"\nSELECT CAST(step AS INT) AS step, merged_pair, pair_count,"
        f" corpus_tokens FROM ({union}) ORDER BY step"
    )


_bpe_train_oracle_sql.__doc__ = _bpe_train_oracle_sql.__doc__.format(
    K=BPE_TRAIN_STEPS
)

TOKENIZER_BPE_TRAIN_MERGES_SQL = _bpe_train_oracle_sql()


def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE leg of the BPE tokenizer — apply the {K} learned
    merges to every document and report its token accounting: word
    count, BPE token count, character count, and chars-per-token (the
    compression the tokenizer actually delivers per document — the
    number a token-budget planner multiplies corpus bytes by). Trains
    and applies in one lineage, the train→apply parity the KN bands
    row established for LM scoring: a tokenizer you can't apply is a
    statistic, not a tokenizer.

    Shape: the {K}-step training loop runs once over the VOCABULARY
    relation (``_bpe_train`` — corpus scanned once for word counts,
    every merge pass vocab-sized, scalar-only driver actions); the
    final (word → symbol array) snapshot IS the encoder, so encoding
    is the corpus token stream joined to it on word — a word-keyed
    hash join against a vocabulary-sized relation (AQE broadcasts it
    at fixture scale; at 100 TB it stays a shuffle join bounded by
    Heaps-law vocabulary growth, never corpus-sized) — followed by one
    per-doc aggregate. Words under 2 chars never enter training and
    encode as themselves (1 token, the coalesce branch).

    Oracle: the shared ``_bpe_oracle_parts`` CTE chain re-derives the
    identical merges, then the same left join + per-doc aggregate.
    """
    _tops, snapshots = _bpe_train(spark, sf_dir)
    encoder = snapshots[-1].select("word", F.size("syms").alias("n_sub"))
    docs = doc_words(spark, sf_dir)
    dw = docs.select("doc_id", F.explode("words").alias("word")).filter(
        F.length("word") > 0
    )
    enc = dw.join(encoder, "word", "left").select(
        "doc_id",
        F.coalesce("n_sub", F.lit(1)).alias("n_sub"),
        F.length("word").alias("wchars"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
            F.sum("wchars").cast("long").alias("n_word_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            "n_word_chars",
            (
                F.round(F.col("n_word_chars") / F.col("n_bpe_tokens") + 1e-9, 6)
                + 0.0
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


tokenizer_bpe_encode.__doc__ = tokenizer_bpe_encode.__doc__.format(
    K=BPE_TRAIN_STEPS
)


def _bpe_encode_oracle_sql() -> str:
    return (
        "WITH RECURSIVE "
        + ",\n".join(_bpe_oracle_parts())
        + f""",
dw AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
enc AS (
  SELECT dw.doc_id,
         coalesce(len(v.syms), 1) AS n_sub,
         length(dw.word) AS wchars
  FROM dw LEFT JOIN v{BPE_TRAIN_STEPS} v ON dw.word = v.word
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(wchars) AS BIGINT) AS n_word_chars,
       round(sum(wchars) / CAST(sum(n_sub) AS DOUBLE) + 1e-9, 6) + 0.0
         AS chars_per_token
FROM enc GROUP BY doc_id ORDER BY doc_id"""
    )


TOKENIZER_BPE_ENCODE_SQL = _bpe_encode_oracle_sql()


def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: per source, the fraction of token
    OCCURRENCES falling outside the corpus top-K vocabulary — the OOV
    rate that sizes a tokenizer's vocab budget and exposes sources
    whose token distribution diverges from the corpus head (high OOV =
    jargon/noise/another register; the signal behind per-domain vocab
    decisions).

    The vocabulary is the same deterministic head ``corpus_vocab_topk``
    gates (count desc, token asc tie-break). It is small by
    CONSTRUCTION (top-K of an aggregate), so the membership join is a
    broadcast; token traffic aggregates to (source, token) counts
    map-side before the join ever sees it.
    """
    docs = doc_words(spark, sf_dir)
    toks = docs.select("source", F.explode("words").alias("token")).filter(
        F.length("token") > 0
    )
    per_src_tok = toks.groupBy("source", "token").agg(F.count("*").alias("n"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("vn"))
        .orderBy(F.desc("vn"), F.asc("token"))
        .limit(VOCAB_TOP_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    j = per_src_tok.join(F.broadcast(vocab), "token", "left")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens") + 1e-9, 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


CORPUS_OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT source, token
  FROM (SELECT source,
               unnest(string_split({NORMALIZE_SQL.format(col="text")}, ' ')) AS token
        FROM documents)
  WHERE length(token) > 0
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS vn FROM toks GROUP BY token
    ORDER BY vn DESC, token ASC LIMIT {VOCAB_TOP_K}
  )
),
per AS (
  SELECT source, t.token, count(*) AS n,
         CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.token = v.token
  GROUP BY source, t.token, oov
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN oov = 1 THEN n ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN oov = 1 THEN n ELSE 0 END)
             / CAST(sum(n) AS DOUBLE) + 1e-9, 6) AS oov_rate
FROM per GROUP BY source ORDER BY source
"""


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (50-token bins, clamped tail bucket) —
    the length profile that sizes padding/truncation budgets."""
    toks = _doc_tokens(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("n_tokens") / HIST_BIN_TOKENS), F.lit(HIST_MAX_BIN)
    ).cast("long")
    return (
        toks.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


CORPUS_LENGTH_HISTOGRAM_SQL = f"""
WITH {_DOC_TOKENS_SQL.strip()}
SELECT CAST(least(floor(n_tokens / {HIST_BIN_TOKENS}), {HIST_MAX_BIN}) AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM doc_tokens GROUP BY 1 ORDER BY 1
"""


def corpus_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — downweight duplicates instead of dropping
    them (the SoftDeDup alternative to hard survivor selection: keep
    every copy but give each near-dup cluster ONE document's worth of
    total training weight, w(doc) = 1/|cluster|). Per source: corpus
    size, how many docs sit in dup clusters, the effective document
    count Σw, and the effective character mass Σ w·n_chars — the
    numbers a data-mixing stage feeds into its sampling temperatures.

    Reuses the session-memoized CC component labels (docs outside any
    near-dup cluster carry weight 1); planted copies map back to their
    base document's source via doc_id % 100000 (FIXTURES.md §B id
    scheme). Weights are exact dyadic/rational doubles (1/|cluster|);
    sums round 4dp/2dp under the shared nudge.
    """
    labels = _dup_component_labels(spark, sf_dir)
    csize = labels.groupBy("label").agg(F.count("*").alias("csz"))
    wts = labels.join(csize, "label").select(
        "doc_id", (F.lit(1.0) / F.col("csz")).alias("w")
    )
    dd = docs_with_dupes(spark, sf_dir).select(
        "doc_id", F.length("text").alias("n_chars")
    )
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "source"
    )
    docs = dd.join(src, dd.doc_id % 100000 == F.col("base_id")).join(
        wts, "doc_id", "left"
    )
    return (
        docs.select(
            "source",
            F.coalesce(F.col("w"), F.lit(1.0)).alias("w"),
            (F.col("w").isNotNull()).cast("long").alias("in_cluster"),
            "n_chars",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("in_cluster").alias("n_dup_members"),
            (F.round(F.sum("w") + 1e-9, 4) + 0.0).alias("effective_docs"),
            (F.round(F.sum(F.col("w") * F.col("n_chars")) + 1e-9, 2) + 0.0).alias(
                "effective_chars"
            ),
        )
        .orderBy("source")
    )


CORPUS_SOFTDEDUP_WEIGHTS_SQL = f"""
WITH RECURSIVE jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jac
),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.u AS node, reach.r
  FROM edges e JOIN reach ON e.v = reach.node
),
node_labels AS (
  SELECT node AS doc_id, min(r) AS label FROM reach GROUP BY node
),
csize AS (
  SELECT label, count(*) AS csz FROM node_labels GROUP BY label
),
wts AS (
  SELECT doc_id, 1.0 / csz AS w
  FROM node_labels JOIN csize USING (label)
),
{DOCS_WITH_DUPES_CTE}
SELECT d.source,
       count(*) AS n_docs,
       count(wts.w) AS n_dup_members,
       round(sum(coalesce(wts.w, 1.0)) + 1e-9, 4) + 0.0 AS effective_docs,
       round(sum(coalesce(wts.w, 1.0) * length(dd.text)) + 1e-9, 2) + 0.0
         AS effective_chars
FROM docs dd
JOIN documents d ON d.doc_id = dd.doc_id % 100000
LEFT JOIN wts ON wts.doc_id = dd.doc_id
GROUP BY d.source
ORDER BY d.source
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label,
    dimension) — the k-means/IVF training step's core aggregate.
    ``posexplode`` turns the vector column into (dim, value) rows and a
    plain group-by averages them: partial aggregation happens map-side
    per (label, dim), so the shuffle carries one partial per key, not
    vectors. Scalar output rows (no array columns driver-side).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).withColumn("dim", F.col("dim").cast("long"))
    return (
        exploded.filter(F.col("dim") < 8)  # profile head: first 8 dims
        .groupBy("label", "dim")
        # centroid coords straddle zero: + 0.0 kills DuckDB's IEEE -0.0
        .agg((F.round(F.avg(F.col("x").cast("double")), 6) + 0.0).alias("centroid"))
        .orderBy("label", "dim")
    )


LABEL_CENTROIDS_SQL = """
SELECT label, i - 1 AS dim,
       round(avg(CAST(embedding[i] AS DOUBLE)), 6) + 0.0 AS centroid
FROM embeddings,
     LATERAL (SELECT unnest(range(1, 9)) AS i)
GROUP BY label, dim ORDER BY label, dim
"""


def label_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling for a labeled training set: every
    label keeps exactly min-class-count examples, chosen by a
    deterministic portable hash (no RNG state — re-runs, cluster
    resizes and incremental arrivals keep the same rows). The per-label
    audit the balancing step reports: total vs kept, plus an
    order-insensitive checksum of WHICH vec_ids survived.

    One rank-window shuffle on label + a broadcast 1-row min; the
    embedding vectors never move (only ids/labels shuffle).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count("*").alias("n_total"))
    cap = counts.agg(F.min("n_total").alias("cap"))
    w = Window.partitionBy("label").orderBy(
        _hash64(F.col("vec_id").cast("string"), 31), "vec_id"
    )
    ranked = emb.withColumn("rk", F.row_number().over(w)).crossJoin(F.broadcast(cap))
    kept = ranked.filter(F.col("rk") <= F.col("cap"))
    return (
        kept.groupBy("label")
        .agg(
            F.count("*").alias("n_kept"),
            F.expr("bit_xor(vec_id)").alias("kept_checksum"),
        )
        .join(counts, "label")
        .select("label", "n_total", "n_kept", "kept_checksum")
        .orderBy("label")
    )


LABEL_BALANCED_SAMPLE_SQL = f"""
WITH counts AS (SELECT label, count(*) AS n_total FROM embeddings GROUP BY label),
cap AS (SELECT min(n_total) AS cap FROM counts),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label
           ORDER BY ({_HASH64_SQL.format(salt=31, col="CAST(vec_id AS VARCHAR)")}), vec_id
         ) AS rk
  FROM embeddings
),
kept AS (SELECT * FROM ranked, cap WHERE rk <= cap)
SELECT k.label, c.n_total, count(*) AS n_kept,
       bit_xor(k.vec_id) AS kept_checksum
FROM kept k JOIN counts c ON k.label = c.label
GROUP BY k.label, c.n_total ORDER BY k.label
"""


def _split_of(col_name: str):
    h = F.pmod(_hash64(F.col(col_name).cast("string"), 13), F.lit(100))
    return F.when(h < 90, "train").when(h < 95, "val").otherwise("test")


_SPLIT_OF_SQL = (
    "CASE WHEN (({h}) % 100 + 100) % 100 < 90 THEN 'train' "
    "WHEN (({h}) % 100 + 100) % 100 < 95 THEN 'val' ELSE 'test' END"
)


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-dup pairs (J ≥ 0.6) whose
    two docs landed in DIFFERENT train/val/test splits — the leakage
    an eval-set split must prove absent, because a val doc with a
    training near-twin inflates every metric it touches. Composes the
    two stages this module already owns: ``dedup_docs_jaccard``'s
    verified pairs (persisted candidates — zero new text shuffles) ×
    ``corpus_train_val_split``'s deterministic hash split rule.

    Output is the 3×3 split matrix with pair counts; ``leaked`` = 1
    on off-diagonal cells. The production follow-up (not a separate
    operator — same plan shape): quarantine the val/test member of
    each leaked pair.
    """
    pairs = dedup_docs_jaccard(spark, sf_dir)
    return (
        pairs.select(
            _split_of("doc_a").alias("split_a"),
            _split_of("doc_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).cast("int").alias("leaked"),
        )
        .orderBy("split_a", "split_b")
    )


SPLIT_LEAKAGE_AUDIT_SQL = f"""
WITH pairs AS ({DEDUP_DOCS_JACCARD_SQL}),
assigned AS (
  SELECT {_SPLIT_OF_SQL.format(h=_HASH64_SQL.format(salt=13, col="CAST(doc_a AS VARCHAR)"))} AS split_a,
         {_SPLIT_OF_SQL.format(h=_HASH64_SQL.format(salt=13, col="CAST(doc_b AS VARCHAR)"))} AS split_b
  FROM pairs
)
SELECT split_a, split_b, count(*) AS n_pairs,
       CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS leaked
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# k-core decomposition of the near-dup graph (iterative peeling)
# --------------------------------------------------------------------------

_KCORE_ORACLE_PASSES = 8  # unrolled in the oracle; pytest pins depth ≤ this


def dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core / 3-core membership over the near-dup graph by iterative
    peeling (Matula–Beck): repeatedly delete nodes whose degree in the
    surviving subgraph is < k until stable. The graph-density lens the
    flat dup metrics miss — a doc in the 3-core sits inside a densely
    self-similar clique (template/boilerplate families), while
    pairwise-linked near-dups peel away; dedup survivor policies
    treat the two very differently.

    Iteration discipline follows connected components, not pagerank:
    the peel depth is data-dependent (bounded by the longest chain in
    any component, NOT a fixed constant), so the driver loops until
    the alive-set size stops shrinking — a SCALAR count per pass is
    the only driver action, and peeling is monotone, so equal counts
    imply set equality. Each pass is one induced-degree aggregate
    (edges semi-joined twice against the alive set) and the alive set
    is localCheckpoint-ed per pass — lineage stays one pass deep no
    matter how deep the peel. The oracle unrolls {P} passes; pytest
    re-peels in pure Python and asserts real depth ≤ {P} (at larger
    scales the loop just runs deeper — the contract is the fixpoint,
    which the harness verifies at every fixture SF).
    """
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    deg0 = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count("*").alias("degree"))
        .localCheckpoint()
    )

    def peel(k: int, start: DataFrame) -> DataFrame:
        # Matula–Beck peeling converges to the k-core from ANY superset
        # of it (the k-core is the unique maximal subgraph of induced
        # degree ≥ k), so seeding with a smaller superset only removes
        # passes, never changes the fixpoint. Two seeds ride that
        # (round 13, guide §2.3 — shrink the iterated relation):
        # filter(d ≥ k) drops never-qualifying nodes before the first
        # induced-degree pass, and peel(3) starts from the 2-core
        # fixpoint (3-core ⊆ 2-core) instead of re-peeling the full
        # degree relation. Pinned by the pure-Python re-peel pytest.
        alive = start.select("doc_id", "d").filter(F.col("d") >= k)
        prev_n = -1
        n = alive.count()
        while n != prev_n:
            prev_n = n
            a_src = alive.select(F.col("doc_id").alias("src"))
            a_dst = alive.select(F.col("doc_id").alias("dst"))
            alive = (
                edges.join(a_src, "src")
                .join(a_dst, "dst")
                .groupBy(F.col("src").alias("doc_id"))
                .agg(F.count("*").alias("d"))
                .filter(F.col("d") >= k)
                .localCheckpoint()
            )
            n = alive.count()
        return alive

    core2 = peel(2, deg0.select("doc_id", F.col("degree").alias("d")))
    core3 = peel(3, core2).select("doc_id", F.lit(1).alias("flag3"))
    return (
        core2.join(deg0, "doc_id")
        .join(core3, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.col("d").alias("core2_degree"),
            F.coalesce(F.col("flag3"), F.lit(0)).cast("long").alias("in_3core"),
        )
        .orderBy("doc_id")
    )


dup_graph_kcore.__doc__ = dup_graph_kcore.__doc__.format(
    P=_KCORE_ORACLE_PASSES
)


def _kcore_pass_sql(prev: str, out: str, k: int) -> str:
    # MATERIALIZED is load-bearing: each pass references the previous
    # one TWICE (both join sides), so DuckDB's single-reference CTE
    # inlining would expand the chain 2^P-fold — the oracle read 7.4 s
    # at sf0.01 with inlined passes, 0.1 s materialized, identical
    # results (round 11, the OPQ-chain finding applied graph-wide).
    return f"""
{out} AS MATERIALIZED (
  SELECT e.u AS node, count(*) AS d
  FROM edges e
  JOIN {prev} a ON e.u = a.node
  JOIN {prev} b ON e.v = b.node
  GROUP BY e.u
  HAVING count(*) >= {k}
)"""


def _kcore_unrolled_sql(k: int) -> str:
    parts = [
        f"a{k}_0 AS MATERIALIZED (SELECT node, degree AS d FROM deg)"
    ]
    for i in range(1, _KCORE_ORACLE_PASSES + 1):
        parts.append(_kcore_pass_sql(f"a{k}_{i - 1}", f"a{k}_{i}", k))
    return ",".join(parts)


# jac/edges/deg are MATERIALIZED: 2×{P} unrolled passes reference
# edges twice each, and inlining would re-expand the full Jaccard
# candidate pipeline (and its parquet scans) per reference — DuckDB
# runs out of file descriptors before it runs out of work.
DUP_GRAPH_KCORE_SQL = f"""
WITH jac AS MATERIALIZED ({DEDUP_DOCS_JACCARD_SQL}),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
deg AS MATERIALIZED (
  SELECT u AS node, count(*) AS degree FROM edges GROUP BY u
),
{_kcore_unrolled_sql(2)},
{_kcore_unrolled_sql(3)},
fixpoint AS (
  -- loud truncation guard (ADVICE r6): the Spark side peels to a
  -- data-dependent fixpoint while this oracle unrolls exactly
  -- {_KCORE_ORACLE_PASSES} passes. The peel only ever REMOVES nodes,
  -- so pass P == pass P-1 by row count iff the node sets (and hence
  -- subgraph degrees) are equal — fixpoint reached. A deeper fixture
  -- now errors here instead of silently reporting a superset k-core
  -- that would read as an implementation divergence.
  SELECT CASE WHEN (SELECT count(*) FROM a2_{_KCORE_ORACLE_PASSES})
                <> (SELECT count(*) FROM a2_{_KCORE_ORACLE_PASSES - 1})
              OR (SELECT count(*) FROM a3_{_KCORE_ORACLE_PASSES})
                <> (SELECT count(*) FROM a3_{_KCORE_ORACLE_PASSES - 1})
         THEN error('kcore oracle truncated: unrolled passes did not reach fixpoint')
         ELSE 1 END AS ok
)
SELECT c2.node AS doc_id,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(c2.d AS BIGINT) AS core2_degree,
       CAST(CASE WHEN c3.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS in_3core
FROM a2_{_KCORE_ORACLE_PASSES} c2
JOIN deg ON c2.node = deg.node
LEFT JOIN a3_{_KCORE_ORACLE_PASSES} c3 ON c2.node = c3.node
CROSS JOIN fixpoint
WHERE fixpoint.ok = 1
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Degree assortativity of the near-dup graph
# --------------------------------------------------------------------------

# Pearson r over directed edge endpoint degrees (du, dv), from moments
_ASSORT_R = (
    "((ne * sduv - sdu * sdv) /"
    " sqrt((ne * sduu - sdu * sdu) * (ne * sdvv - sdv * sdv)))"
)


def dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the near-dup graph:
    Pearson correlation of endpoint degrees over the symmetric edge
    list — the one-number structural fingerprint the per-node metrics
    (degree, coreness, clustering) don't give: template/boilerplate
    corpora read DISASSORTATIVE (hub pages linked to many low-degree
    copies), while mutual-paraphrase clusters read assortative.

    One edge-sized relation end to end: degrees from the edge list,
    joined back to both endpoints (node-keyed equi-joins), reduced to
    five Pearson moments — the shared closed form evaluated verbatim
    by both engines. Using the symmetric (directed-both-ways) list is
    the standard undirected convention: each edge contributes both
    orientations, making r symmetric by construction.
    """
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    tracked_persist(edges)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    j = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    m = j.agg(
        F.count("*").cast("double").alias("ne"),
        F.sum(F.col("du").cast("double")).alias("sdu"),
        F.sum(F.col("dv").cast("double")).alias("sdv"),
        F.sum((F.col("du") * F.col("dv")).cast("double")).alias("sduv"),
        F.sum((F.col("du") * F.col("du")).cast("double")).alias("sduu"),
        F.sum((F.col("dv") * F.col("dv")).cast("double")).alias("sdvv"),
    )
    return m.select(
        (F.col("ne") / 2).cast("long").alias("n_edges"),
        F.expr(f"round({_ASSORT_R} + 1e-9, 6) + 0.0").alias("assortativity"),
    )


DUP_GRAPH_ASSORTATIVITY_SQL = f"""
WITH jac AS MATERIALIZED ({DEDUP_DOCS_JACCARD_SQL}),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
deg AS (SELECT u AS node, count(*) AS d FROM edges GROUP BY u),
j AS (
  SELECT CAST(a.d AS DOUBLE) AS du, CAST(b.d AS DOUBLE) AS dv
  FROM edges e
  JOIN deg a ON e.u = a.node
  JOIN deg b ON e.v = b.node
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS ne,
         sum(du) AS sdu, sum(dv) AS sdv, sum(du * dv) AS sduv,
         sum(du * du) AS sduu, sum(dv * dv) AS sdvv
  FROM j
)
SELECT CAST(ne / 2 AS BIGINT) AS n_edges,
       round({_ASSORT_R} + 1e-9, 6) + 0.0 AS assortativity
FROM m
"""


_EPOCH_PAIRS = [(0, 1), (0, 2), (1, 2)]


def _epoch_uniform(e: int):
    """Deterministic dyadic uniform in [0,1) per (epoch, doc) from
    md5 — the seeded-hash idiom (dp_noised_release / pq codebook)
    keyed by epoch so each epoch induces an independent ordering."""
    m = F.md5(F.concat(F.lit(f"ep{e}|"), F.col("doc_id").cast("string")))
    # one conv() parse of the 8-hex prefix — bit-identical to the
    # former 8-term strpos sum (see dq._hex_uniform, round 13)
    return F.conv(F.substring(m, 1, 8), 16, 10).cast("double") * F.lit(2.0 ** -32)


def corpus_epoch_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle audit: a training pipeline orders
    each epoch's examples by a seeded hash (shuffle = distributed sort
    by md5(epoch‖doc_id) — reproducible, resumable, no RNG state); this
    row PROVES the epoch orders are mutually independent before anyone
    trains on them. For each epoch pair it emits the Pearson
    correlation of the two hash-uniforms (uniforms are their own CDF,
    so this is asymptotically Spearman's rho of the two epoch
    ORDERS — expected 0) and the 16×16 first-hex-digit contingency
    chi-square against uniform n/256 (expected ≈ dof 255): a biased
    seed construction (e.g. epoch appended AFTER a truncated hash)
    shows up as rho ≫ 0 or a spiked matrix.

    Scale shape: NO global sort anywhere — the naive audit ranks every
    doc per epoch (row_number over an unpartitioned window = one
    executor sorting the corpus); rank correlation over uniforms makes
    the ranks unnecessary, so the whole audit is one scan → three
    corr/count aggregates + one 256-cell count aggregate per pair, all
    map-side combinable. The per-pair stack reuses ONE persisted
    (u, bucket)×3 base scan. corr rounded 6dp, chi-square 4dp under
    the shared nudge.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id",
        *[_epoch_uniform(e).alias(f"u{e}") for e in range(3)],
        *[
            (F.floor(_epoch_uniform(e) * 16)).cast("long").alias(f"b{e}")
            for e in range(3)
        ],
    )
    base = tracked_persist(base)
    out = None
    for a, b in _EPOCH_PAIRS:
        pair = base.select(
            F.lit(a).cast("long").alias("epoch_a"),
            F.lit(b).cast("long").alias("epoch_b"),
            F.col(f"u{a}").alias("ua"),
            F.col(f"u{b}").alias("ub"),
            F.col(f"b{a}").alias("ba"),
            F.col(f"b{b}").alias("bb"),
        )
        corr = pair.groupBy("epoch_a", "epoch_b").agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.round(F.corr("ua", "ub") + 1e-9, 6) + 0.0).alias("rho_u"),
        )
        # Empty cells contribute (0-E)^2/E = E = n/256 each; summing only
        # observed (ba,bb) cells would drop them (ADVICE r7), understating
        # chisq vs the dof-255 calibration. (256 - observed) * n/256 adds
        # them back without materializing the full grid.
        chi = (
            pair.groupBy("ba", "bb")
            .agg(F.count("*").cast("double").alias("o"))
            .crossJoin(F.broadcast(corr.select("n_docs")))
            .agg(
                F.expr(
                    "round(sum((o - n_docs / 256.0) * (o - n_docs / 256.0)"
                    " / (n_docs / 256.0))"
                    " + (256 - count(*)) * (max(n_docs) / 256.0)"
                    " + 1e-9, 4) + 0.0"
                ).alias("chisq_256")
            )
        )
        row = corr.crossJoin(F.broadcast(chi))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("epoch_a", "epoch_b")


def _epoch_uniform_sql(e: int) -> str:
    key = f"'ep{e}|' || CAST(doc_id AS VARCHAR)"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({key}), {i}, 1)) - 1)"
        f" * {16.0 ** -i!r}"
        for i in range(1, 9)
    )
    return f"({terms})"


CORPUS_EPOCH_SHUFFLE_AUDIT_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         {_epoch_uniform_sql(0)} AS u0,
         {_epoch_uniform_sql(1)} AS u1,
         {_epoch_uniform_sql(2)} AS u2,
         CAST(floor({_epoch_uniform_sql(0)} * 16) AS BIGINT) AS b0,
         CAST(floor({_epoch_uniform_sql(1)} * 16) AS BIGINT) AS b1,
         CAST(floor({_epoch_uniform_sql(2)} * 16) AS BIGINT) AS b2
  FROM documents
),
stacked AS (
  SELECT CAST(0 AS BIGINT) AS epoch_a, CAST(1 AS BIGINT) AS epoch_b,
         u0 AS ua, u1 AS ub, b0 AS ba, b1 AS bb FROM base
  UNION ALL
  SELECT 0, 2, u0, u2, b0, b2 FROM base
  UNION ALL
  SELECT 1, 2, u1, u2, b1, b2 FROM base
),
co AS (
  SELECT epoch_a, epoch_b,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(corr(ua, ub) + 1e-9, 6) + 0.0 AS rho_u
  FROM stacked GROUP BY 1, 2
),
cells AS (
  SELECT epoch_a, epoch_b, ba, bb, CAST(count(*) AS DOUBLE) AS o
  FROM stacked GROUP BY 1, 2, 3, 4
),
chi AS (
  SELECT c.epoch_a, c.epoch_b,
         round(sum((c.o - co.n_docs / 256.0) * (c.o - co.n_docs / 256.0)
                   / (co.n_docs / 256.0))
               + (256 - count(*)) * (max(co.n_docs) / 256.0)
               + 1e-9, 4) + 0.0 AS chisq_256
  FROM cells c JOIN co ON c.epoch_a = co.epoch_a AND c.epoch_b = co.epoch_b
  GROUP BY 1, 2
)
SELECT co.epoch_a, co.epoch_b, co.n_docs, co.rho_u, chi.chisq_256
FROM co JOIN chi ON co.epoch_a = chi.epoch_a AND co.epoch_b = chi.epoch_b
ORDER BY co.epoch_a, co.epoch_b
"""



_LPA_ROUNDS = 3


def dup_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup graph via synchronous
    Label Propagation (Raghavan et al. 2007) — the graph family's
    community lens next to CC (reachability), PageRank (centrality),
    k-core (density) and triangles (transitivity). LPA finds DENSE
    duplicate communities where CC merges everything connected: a
    chain of borderline pairs bridging two paraphrase clusters is one
    CC component but two LPA communities.

    Deterministic synchronous variant: labels start as doc_id; each
    round every node adopts its neighbors' modal label with ties
    broken by the SMALLEST label (integer arithmetic only — no float
    anywhere, so both engines take every round identically), unrolled
    {R} rounds into one declarative plan. Per round: one edge-keyed
    join + one (node, label) count + one struct-min argmax — the
    PageRank contribution shape with min(struct(-cnt, label)) in
    place of the damped sum. Edges are ``localCheckpoint``-ed like
    PageRank's (the unrolled plan references them {R} times).

    Scale: every round is edge-sized map-combinable aggregation; no
    corpus self-joins, no driver steering (fixed rounds — the classic
    LPA stopping rule "until no change" needs a driver loop; fixed
    small R is the standard bounded-cost variant and is what keeps
    the whole thing ONE plan).
    """
    labels = _lpa_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", "label", "n_members")
        .orderBy("doc_id")
    )


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doubled (src, dst) near-dup edge list the LPA family votes
    over — localCheckpoint-ed because the unrolled plan references it
    once per round (the PageRank idiom)."""
    pairs = dedup_docs_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )


@memo("lpa_labels")
def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized final-round LPA labels (doc_id, label) — the
    community assignment is an INDEX the way CC labels are: built once
    per (session, sf_dir), consumed by the LPA row itself and by
    ``dup_graph_modularity`` (which would otherwise re-run the 3
    join-rounds to grade the very partition the other row emits)."""
    edges = _lpa_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label")))
                .getField("label")
                .alias("label")
            )
            .select(F.col("node").alias("doc_id"), "label")
        )
    return labels


dup_graph_label_propagation.__doc__ = dup_graph_label_propagation.__doc__.format(
    R=_LPA_ROUNDS
)


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT node AS doc_id, label FROM (
    SELECT e.v AS node, p.label, count(*) AS cnt
    FROM edges e JOIN {prev} p ON e.u = p.doc_id
    GROUP BY 1, 2
  ) v QUALIFY row_number() OVER (PARTITION BY node
                                 ORDER BY cnt DESC, label ASC) = 1
)"""


DUP_GRAPH_LABEL_PROPAGATION_SQL = f"""
WITH jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
l0 AS (
  SELECT DISTINCT u AS doc_id, u AS label FROM edges
),{_lpa_iter_sql("l0", "l1")},{_lpa_iter_sql("l1", "l2")},{_lpa_iter_sql("l2", "l3")},
sizes AS (
  SELECT label, count(*) AS n_members FROM l3 GROUP BY label
)
SELECT l3.doc_id, l3.label, sizes.n_members
FROM l3 JOIN sizes ON l3.label = sizes.label
ORDER BY l3.doc_id
"""



def dup_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score
    that closes the community-detection loop: LPA PRODUCES a
    partition, modularity GRADES it (Newman & Girvan 2004,
    Q = Σ_c [e_c/m − (d_c/2m)²]): positive contribution means the
    community holds more internal edges than a degree-preserving
    random graph would place there; a near-zero community is a
    label-propagation artifact, not duplicate structure.

    Integer core: per community, e_c = within-community directed
    edges / 2 and d_c = Σ degrees are exact counts off the same
    doubled edge list LPA itself votes over; the only floats are the
    final two divisions, rounded 6dp on both engines. Plan: the
    edge list joins the label relation twice (src then dst — two
    edge-sized hash joins on the node key), then one bounded
    aggregate per community.

    Scale: no corpus self-join — edges come from the banded
    candidate generator (memoized), and both label joins shuffle the
    EDGE relation, never the corpus; the per-community aggregate is
    bounded by the community count.
    """
    edges = _lpa_edges(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir)
    m = edges.agg((F.count("*") / 2).cast("long").alias("m"))
    lab_src = labels.select(
        F.col("doc_id").alias("src"), F.col("label").alias("src_label")
    )
    lab_dst = labels.select(
        F.col("doc_id").alias("dst"), F.col("label").alias("dst_label")
    )
    per_comm = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .groupBy(F.col("src_label").alias("label"))
        .agg(
            F.count("*").cast("long").alias("deg_sum"),
            (
                F.count_if(F.col("src_label") == F.col("dst_label")) / 2
            )
            .cast("long")
            .alias("e_within"),
        )
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        per_comm.join(sizes, "label")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_members",
            "e_within",
            "deg_sum",
            (
                F.round(
                    F.col("e_within") / F.col("m")
                    - (F.col("deg_sum") / (2.0 * F.col("m")))
                    * (F.col("deg_sum") / (2.0 * F.col("m")))
                    + 1e-9,
                    6,
                )
                + 0.0
            ).alias("q_contrib"),
        )
        .orderBy("label")
    )


DUP_GRAPH_MODULARITY_SQL = f"""
WITH jac AS ({DEDUP_DOCS_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
l0 AS (
  SELECT DISTINCT u AS doc_id, u AS label FROM edges
),{_lpa_iter_sql("l0", "l1")},{_lpa_iter_sql("l1", "l2")},{_lpa_iter_sql("l2", "l3")},
m AS (SELECT CAST(count(*) / 2 AS BIGINT) AS m FROM edges),
per_comm AS (
  SELECT ls.label AS label,
         CAST(count(*) AS BIGINT) AS deg_sum,
         CAST(count(CASE WHEN ls.label = ld.label THEN 1 END) / 2 AS BIGINT)
           AS e_within
  FROM edges e
  JOIN l3 ls ON e.u = ls.doc_id
  JOIN l3 ld ON e.v = ld.doc_id
  GROUP BY ls.label
),
sizes AS (
  SELECT label, count(*) AS n_members FROM l3 GROUP BY label
)
SELECT p.label, s.n_members, p.e_within, p.deg_sum,
       round(p.e_within / CAST(m.m AS DOUBLE)
             - (p.deg_sum / (2.0 * m.m)) * (p.deg_sum / (2.0 * m.m))
             + 1e-9, 6) + 0.0 AS q_contrib
FROM per_comm p JOIN sizes s ON p.label = s.label CROSS JOIN m
ORDER BY p.label
"""


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source — subword tokens per word, THE
    tokenizer-evaluation table (multilingual tokenizer papers report
    exactly this per language/domain: fertility ~1 means the vocab
    fits the domain, 2+ means every word fragments and the effective
    context window halves). Rolls the BPE encode leg's per-doc
    accounting up per source, with chars-per-token as the compression
    column a token-budget planner multiplies corpus bytes by.

    Pure roll-up over ``tokenizer_bpe_encode``'s output joined to the
    source column — train→encode→evaluate in one lineage, all ratios
    from exact integer sums.
    """
    enc = tokenizer_bpe_encode(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        enc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.sum("n_word_chars").cast("long").alias("n_word_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            (
                F.round(
                    F.col("n_bpe_tokens") / F.col("n_words") + 1e-9, 4
                )
                + 0.0
            ).alias("fertility"),
            (
                F.round(
                    F.col("n_word_chars") / F.col("n_bpe_tokens") + 1e-9, 4
                )
                + 0.0
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


CORPUS_TOKENIZER_FERTILITY_SQL = f"""
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(e.n_bpe_tokens) AS DOUBLE) / sum(e.n_words) + 1e-9, 4)
         + 0.0 AS fertility,
       round(CAST(sum(e.n_word_chars) AS DOUBLE) / sum(e.n_bpe_tokens)
             + 1e-9, 4) + 0.0 AS chars_per_token
FROM ({TOKENIZER_BPE_ENCODE_SQL}) e
JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""



_HEAPS_PREFIXES = 10


def corpus_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth fit, V(N) = K·N^beta — the curve a
    tokenizer/vocab planner extrapolates before committing a vocab
    size ("how many new types will the next 10x of corpus bring?"),
    the growth companion to the static ``corpus_zipf_fit``. The corpus
    (in doc_id order) is cut into {P} equal-doc prefixes; each word
    contributes ONE row at the prefix where it FIRST appears (min
    prefix per word — one explode pass, never {P} re-scans), so
    cumulative vocabulary V_i and token mass N_i come from a single
    {P}-row cumulative walk, and (beta, K) drop out of the log-log
    regression moments over the {P} points.

    Prefix assignment is the distinct-doc cumulative-count grid (the
    equidepth discipline — window above an Aggregate, bounded by doc
    count); all downstream relations are {P}-row bounded.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    dw = doc_words(spark, sf_dir).select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    per_doc = dw.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    wd = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    tot = per_doc.agg(F.count("*").alias("n_docs"))
    prefixes = (
        per_doc.withColumn(
            "docs_before", F.coalesce(F.count("*").over(wd), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tok",
            F.floor(
                F.col("docs_before") * _HEAPS_PREFIXES / F.col("n_docs")
            )
            .cast("int")
            .alias("prefix"),
        )
    )
    first_seen = (
        dw.join(prefixes.select("doc_id", "prefix"), "doc_id")
        .groupBy("word")
        .agg(F.min("prefix").alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("new_types"))
    )
    tok_per_prefix = prefixes.groupBy("prefix").agg(
        F.sum("n_tok").alias("n_tok")
    )
    wp = Window.orderBy("prefix").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pts = (
        tok_per_prefix.join(first_seen, "prefix", "left")
        .select(
            "prefix",
            F.sum("n_tok").over(wp).alias("tokens_cum"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(wp)
            .alias("vocab_cum"),
        )
        .select(
            "prefix",
            F.col("tokens_cum").cast("long").alias("tokens_cum"),
            F.col("vocab_cum").cast("long").alias("vocab_cum"),
            F.log("tokens_cum").alias("lx"),
            F.log("vocab_cum").alias("ly"),
        )
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    ).select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("beta_raw"),
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
    ).select(
        (F.round(F.col("beta_raw") + 1e-9, 4) + 0.0).alias("beta"),
        (
            F.round(
                F.exp(
                    (F.col("sy") - F.col("beta_raw") * F.col("sx"))
                    / F.col("n")
                )
                + 1e-9,
                4,
            )
            + 0.0
        ).alias("k_coef"),
    )
    return (
        pts.crossJoin(F.broadcast(m))
        .select("prefix", "tokens_cum", "vocab_cum", "beta", "k_coef")
        .orderBy("prefix")
    )


corpus_heaps_law_fit.__doc__ = corpus_heaps_law_fit.__doc__.format(
    P=_HEAPS_PREFIXES
)


CORPUS_HEAPS_LAW_FIT_SQL = rf"""
WITH dw AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split({NORMALIZE_SQL.format(col='text')}, ' '))
                 AS word
        FROM documents)
  WHERE length(word) > 0
),
per_doc AS (
  SELECT doc_id, count(*) AS n_tok FROM dw GROUP BY doc_id
),
prefixes AS (
  SELECT doc_id, n_tok,
         CAST(floor(coalesce(count(*) OVER (ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    * {_HEAPS_PREFIXES}
                    / (SELECT CAST(count(*) AS DOUBLE) FROM per_doc))
              AS INT) AS prefix
  FROM per_doc
),
first_seen AS (
  SELECT prefix, count(*) AS new_types FROM (
    SELECT word, min(p.prefix) AS prefix
    FROM dw JOIN prefixes p USING (doc_id)
    GROUP BY word
  ) GROUP BY prefix
),
pts AS (
  SELECT t.prefix,
         CAST(sum(t.n_tok) OVER w AS BIGINT) AS tokens_cum,
         CAST(sum(coalesce(f.new_types, 0)) OVER w AS BIGINT) AS vocab_cum
  FROM (SELECT prefix, sum(n_tok) AS n_tok FROM prefixes GROUP BY prefix) t
  LEFT JOIN first_seen f USING (prefix)
  WINDOW w AS (ORDER BY t.prefix ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
lpts AS (
  SELECT prefix, tokens_cum, vocab_cum,
         ln(tokens_cum) AS lx, ln(vocab_cum) AS ly
  FROM pts
),
m AS (
  SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
           / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)) AS beta_raw,
         count(*) AS n, sum(lx) AS sx, sum(ly) AS sy
  FROM lpts
)
SELECT prefix, tokens_cum, vocab_cum,
       round(m.beta_raw + 1e-9, 4) + 0.0 AS beta,
       round(exp((m.sy - m.beta_raw * m.sx) / m.n) + 1e-9, 4) + 0.0 AS k_coef
FROM lpts CROSS JOIN m
ORDER BY prefix
"""


QUERIES = {
    "corpus_softdedup_weights": corpus_softdedup_weights,
    "corpus_epoch_shuffle_audit": corpus_epoch_shuffle_audit,
    "corpus_zipf_fit": corpus_zipf_fit,
    "dup_graph_kcore": dup_graph_kcore,
    "dup_graph_assortativity": dup_graph_assortativity,
    "dup_graph_triangles": dup_graph_triangles,
    "dup_clusters_connected_components": dup_clusters_connected_components,
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "dup_graph_pagerank": dup_graph_pagerank,
    "split_leakage_audit": split_leakage_audit,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_train_val_split": corpus_train_val_split,
    "corpus_vocab_topk": corpus_vocab_topk,
    "corpus_oov_rate": corpus_oov_rate,
    "corpus_length_histogram": corpus_length_histogram,
    "label_centroids": label_centroids,
    "label_balanced_sample": label_balanced_sample,
    "tokenizer_bpe_pair_counts": tokenizer_bpe_pair_counts,
    "tokenizer_bpe_train_merges": tokenizer_bpe_train_merges,
    "tokenizer_bpe_encode": tokenizer_bpe_encode,
    "corpus_vocab_coverage_curve": corpus_vocab_coverage_curve,
    "dup_graph_common_neighbors": dup_graph_common_neighbors,
    "dup_graph_label_propagation": dup_graph_label_propagation,
    "dup_graph_modularity": dup_graph_modularity,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
    "corpus_heaps_law_fit": corpus_heaps_law_fit,
}

ORACLES = {
    "corpus_softdedup_weights": CORPUS_SOFTDEDUP_WEIGHTS_SQL,
    "corpus_epoch_shuffle_audit": CORPUS_EPOCH_SHUFFLE_AUDIT_SQL,
    "dup_graph_kcore": DUP_GRAPH_KCORE_SQL,
    "dup_graph_assortativity": DUP_GRAPH_ASSORTATIVITY_SQL,
    "corpus_zipf_fit": CORPUS_ZIPF_FIT_SQL,
    "dup_graph_triangles": DUP_GRAPH_TRIANGLES_SQL,
    "label_balanced_sample": LABEL_BALANCED_SAMPLE_SQL,
    "split_leakage_audit": SPLIT_LEAKAGE_AUDIT_SQL,
    "dup_clusters_connected_components": DUP_CLUSTERS_SQL,
    "dedup_cluster_canonical": DEDUP_CLUSTER_CANONICAL_SQL,
    "dup_graph_pagerank": DUP_GRAPH_PAGERANK_SQL,
    "corpus_pack_sequences": CORPUS_PACK_SEQUENCES_SQL,
    "corpus_train_val_split": CORPUS_TRAIN_VAL_SPLIT_SQL,
    "corpus_vocab_topk": CORPUS_VOCAB_TOPK_SQL,
    "corpus_oov_rate": CORPUS_OOV_RATE_SQL,
    "corpus_length_histogram": CORPUS_LENGTH_HISTOGRAM_SQL,
    "label_centroids": LABEL_CENTROIDS_SQL,
    "tokenizer_bpe_pair_counts": TOKENIZER_BPE_PAIR_COUNTS_SQL,
    "tokenizer_bpe_train_merges": TOKENIZER_BPE_TRAIN_MERGES_SQL,
    "tokenizer_bpe_encode": TOKENIZER_BPE_ENCODE_SQL,
    "corpus_vocab_coverage_curve": CORPUS_VOCAB_COVERAGE_CURVE_SQL,
    "dup_graph_common_neighbors": DUP_GRAPH_COMMON_NEIGHBORS_SQL,
    "dup_graph_label_propagation": DUP_GRAPH_LABEL_PROPAGATION_SQL,
    "dup_graph_modularity": DUP_GRAPH_MODULARITY_SQL,
    "corpus_tokenizer_fertility": CORPUS_TOKENIZER_FERTILITY_SQL,
    "corpus_heaps_law_fit": CORPUS_HEAPS_LAW_FIT_SQL,
}
