"""Round-14 optimization pins.

Accounting contract (VERDICT r13 #1): the memo prewarm slot set is
frozen; the memo-builder query prices its own build; the bench line
carries the all-in total.
"""

from __future__ import annotations

# The frozen prewarm slot set (round 14). Adding a slot moves work
# from the timed region into the untimed prewarm — it must be a
# deliberate, recorded act: update this list AND BENCH_NOTES.md
# §Round 14 in the same change, with the justification.
FROZEN_PREWARM_SLOTS = {
    "basket_items",
    "basket_pairs",
    "journey_counts",
    "neardup_docs",
    "doc_words",
    "tfidf_weights",
    "tfidf_doc_norms",
    "quality_scores",
    "neardup_shingles",
    "neardup_sets",
    "neardup_candidates",
    "minhash_sigs16",
    "neardup_cc_labels",
    "lpa_labels",
    "pq_base_dists",
    "opq_xr",
    "opq_bd_all",
    "opq_adc_all",
    "sem_labels",
    "knn_graph",
    "emb_count",
}


def test_prewarm_slot_set_is_frozen():
    from cdc_realtime_pipeline_spark.plans.prewarm import known_slots

    assert known_slots() == FROZEN_PREWARM_SLOTS, (
        "prewarm slot set changed — new slots shift work into the "
        "untimed region; record the justification in BENCH_NOTES.md "
        "§Round 14 and update FROZEN_PREWARM_SLOTS deliberately"
    )


def test_public_knn_graph_query_prices_its_own_build(spark, sf_dir):
    """The registry's embeddings_knn_graph entry must NOT be a memo
    read: its timed bench row has to include the graph build (VERDICT
    r13 #1 — a memo-builder query whose public entry reads the cache
    prices untimed work as a sub-second row). On a fresh session the
    public query leaves the ``knn_graph`` key cold; the consumers'
    accessor fills it."""
    from cdc_realtime_pipeline_spark import session
    from cdc_realtime_pipeline_spark.operators import similarity

    fresh = spark.newSession()
    sid = fresh._jsparkSession.sessionUUID()

    def owner():
        entry = session._STATE.get("knn_graph")
        return entry and entry[:2]

    similarity.embeddings_knn_graph(fresh, sf_dir)
    assert owner() != (sid, sf_dir)
    similarity._knn_graph_memo(fresh, sf_dir)
    assert owner() == (sid, sf_dir)


def test_bench_emits_all_in_total():
    import pathlib

    src = pathlib.Path("bench.py").read_text()
    assert '"headline_plus_prewarm_sec"' in src


def test_gap_fill_locf_persist_gate_is_result_identical(
    spark, sf_dir, monkeypatch
):
    """The volume-gated persist (round 14 — the hampel #19 discipline)
    must be a pure plan-shape switch: forcing the persist path on the
    fixture (gate at 1 row) yields exactly the ungated result."""
    from cdc_realtime_pipeline_spark.operators.timeseries import gap_fill_locf

    monkeypatch.setenv("SPARK_GRAFT_LOCF_PERSIST_ROWS", str(10**12))
    plain = gap_fill_locf(spark, sf_dir).collect()
    monkeypatch.setenv("SPARK_GRAFT_LOCF_PERSIST_ROWS", "1")
    forced = gap_fill_locf(spark, sf_dir).collect()
    key = lambda r: (r["market"], r["bucket"])  # noqa: E731
    assert sorted(plain, key=key) == sorted(forced, key=key)
