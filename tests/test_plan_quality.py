"""Physical-plan assertions (SURVEY.md §4): the optimizations the engine
relies on must actually appear in the plans — predicate pushdown to the
parquet scan, column pruning, broadcast joins for dims, whole-stage
codegen, and a bounded shuffle count in the CDC merge."""

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from beehive_data_etl_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(QUERIES["q_filter"](spark, SF))
    assert "PushedFilters" in plan
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan).group(1)
    assert "o_totalprice" in pushed or "o_orderstatus" in pushed, pushed


def test_column_pruning_in_projection(spark):
    plan = plan_of(QUERIES["q_project"](spark, SF))
    m = re.search(r"ReadSchema: struct<(.*?)>", plan)
    cols = m.group(1)
    # only the 4 referenced columns are read, not all 11
    assert "l_comment" not in cols and "l_shipdate" not in cols
    assert cols.count(":") <= 4, cols


def test_dim_join_is_broadcast(spark):
    plan = plan_of(QUERIES["q_join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 2  # nation AND region


def test_semi_anti_join_strategies(spark):
    semi = plan_of(QUERIES["q_join_semi"](spark, SF))
    anti = plan_of(QUERIES["q_join_anti"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_agg_has_partial_final_split(spark):
    plan = plan_of(QUERIES["q_agg_basic"](spark, SF))
    # Catalyst plans map-side partial + final HashAggregate
    # (AQE's formatted output hides WholeStageCodegen markers; the
    # HashAggregate pair is the codegen-able shape)
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    plan = plan_of(QUERIES["q_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_builtin_queries_have_no_python_eval(spark):
    """'No per-row Python' (BASELINE.json:6): every non-UDF query plan
    must stay JVM-side — no BatchEvalPython / PythonUDF nodes."""
    udf_queries = {
        "q_pandas_udf", "q_grouped_map", "q_udaf", "q_multimodal_features",
        "q_keyword_classify",
    }
    for name, fn in QUERIES.items():
        if name in udf_queries:
            continue
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_cdc_merge_shuffle_count(spark, smoke_log, tmp_path):
    """The sink's append-path write (apply_batch through the sink's
    one bucket-write helper) must contain exactly ONE data-bearing
    shuffle (the LWW aggregation) plus the bucket repartition — no
    more. Regression guard for the single-job merge. The bucket
    exchange has no fixed count (REPARTITION_BY_COL), so AQE sizes the
    write to the data instead of one task per bucket."""
    from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
    from beehive_data_etl_spark.sources.readers import read_wal

    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=16)
    written = []
    file_options = sink._file_options

    def spy(writer):  # every data write passes its writer through here
        written.append(writer._df)
        return file_options(writer)

    sink._file_options = spy
    sink.apply_batch(read_wal(spark, smoke_log), "b0")
    [merged] = written
    plan = plan_of(merged)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, f"merge plan grew extra shuffles:\n{plan}"
    # and the partial (map-side) LWW reduction runs BEFORE the shuffle —
    # the property that makes Zipf-hot keys harmless
    assert re.search(r"partial_max\(struct\(op_sequence", plan), plan
    assert re.search(r"hashpartitioning\(_bucket#\d+, \d+\), REPARTITION_BY_COL", plan), plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_salted_dedup_two_phase_shape(spark, smoke_log):
    """Explicit salting (A8) must produce two aggregation levels."""
    from beehive_data_etl_spark.operators.lww import lww_dedup

    df = spark.read.parquet(smoke_log).drop("event_ts", "batch_hint")
    plan = plan_of(lww_dedup(df, "doc_id", "op_sequence", salt_partials=8))
    # partial+final per phase → ≥4 aggregate nodes (Sort/ObjectHash)
    n_aggs = len(re.findall(r"(SortAggregate|ObjectHashAggregate|HashAggregate)", plan))
    assert n_aggs >= 4, plan


def test_minhash_no_gratuitous_corpus_shuffle(spark):
    """minhash_lsh_pairs must NOT round-robin-repartition an input that
    is already at least as wide as the default parallelism — at corpus
    scale that was a full shuffle of all text (round-1 wart). An
    under-partitioned input (1 file = 1 task) still gets spread."""
    from beehive_data_etl_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    par = spark.sparkContext.defaultParallelism

    wide = docs.repartition(par)  # simulate a well-partitioned scan
    plan_wide = plan_of(minhash_lsh_pairs(wide))
    # only the input-simulation node — a failed gate would add a second
    assert len(re.findall(r"RoundRobinPartitioning", plan_wide)) == 1, plan_wide

    narrow = docs.coalesce(1)
    plan_narrow = plan_of(minhash_lsh_pairs(narrow))
    # the gate spreads the 1-task input
    assert len(re.findall(r"RoundRobinPartitioning", plan_narrow)) == 1, plan_narrow

    # bucket-grouped pair generation scans the corpus exactly once (the
    # old self-join scanned + re-signed it twice; no exchange reuse).
    # explain("formatted") prints every node twice: tree + details.
    assert plan_wide.count("Scan parquet") == 2, plan_wide


def test_lineage_adds_zero_jobs(spark, smoke_log, tmp_path):
    """A12 lineage must ride the merge job: apply_batch with
    lineage=True launches EXACTLY as many Spark jobs as lineage=False
    (AQE materializes each query stage as its own job, so the absolute
    count varies — the invariant is the delta). Round 1 re-scanned the
    batch and collect()ed an extra job per batch."""
    from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
    from beehive_data_etl_spark.streaming.replay import _log_files
    from beehive_data_etl_spark.sources.readers import read_wal

    files = _log_files(smoke_log)[:2]
    df = read_wal(spark, files)
    sc = spark.sparkContext

    def jobs_for(lineage: bool, tag: str) -> tuple[int, dict]:
        sink = SnapshotSink(
            spark, str(tmp_path / f"sink-{tag}"), n_buckets=8, lineage=lineage
        )
        sc.setJobGroup(tag, "merge job count probe")
        try:
            metrics = sink.apply_batch(df, "probe-0")
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag)), metrics

    n_off, _ = jobs_for(False, "lineage-off")
    n_on, metrics = jobs_for(True, "lineage-on")
    assert n_on == n_off, f"lineage added jobs: {n_off} -> {n_on}"
    assert metrics["lineage"]["events"] > 0
    assert metrics["lineage"]["input_files"]


def test_pandas_udf_single_invocation(spark):
    """q_pandas_udf must evaluate the Arrow UDF ONCE and derive
    clean_len from the same attribute (round 1 ran the Arrow round-trip
    twice — Catalyst does not CSE duplicated Python UDF calls)."""
    plan = plan_of(QUERIES["q_pandas_udf"](spark, "/root/testdata/sf0.001"))
    calls = re.findall(r"clean_text_pandas\(text#\d+\)", plan)
    # the formatted plan prints the ArrowEvalPython node's argument list
    # once in the details section
    assert len(calls) == 1, plan


def test_interval_banded_join_is_equi_join(spark):
    """The big-big time-proximity join must plan as a hash/sort-merge
    EQUI-join on (user, band) — never BroadcastNestedLoop or a
    cartesian product (the theta-join shape it replaces)."""
    plan = plan_of(QUERIES["q_join_interval_banded"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_neardup_lsh_single_corpus_scan(spark):
    """cosine_neardup_pairs_lsh (round-3): bucket-grouped pair
    generation scans + signs the embeddings corpus exactly once — the
    old signature self-join did it twice (no exchange reuse fires
    across a self-join's identical subtrees)."""
    from beehive_data_etl_spark.functions.similarity import cosine_neardup_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(cosine_neardup_pairs_lsh(emb, threshold=0.4, planes=4, tables=3))
    # explain("formatted") prints every node twice: tree + details
    assert plan.count("Scan parquet") == 2, plan


def test_incremental_dedup_single_signature_scan(spark):
    """q_dedup_incremental: the k×md5 signature pipeline must run in
    ONE corpus scan — grouping both split sides into one bucket
    membership row, not filtering the banded frame per side (each
    filter reference would re-execute the whole signature subtree).
    The documents table appears twice in the plan (signatures + the
    broadcast id→flag projection), never more; the flag scan reads
    only doc_id."""
    plan = plan_of(QUERIES["q_dedup_incremental"](spark, SF))
    # formatted explain prints each node twice (tree + details)
    assert plan.count("Scan parquet") == 4, plan
    assert plan.count("BroadcastExchange") >= 2  # flags join is broadcast
    # the flags scan must be COLUMN-PRUNED to doc_id alone — reading
    # text there would double the scanned bytes for a boolean flag
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_tfidf_single_corpus_scan(spark):
    """q_tfidf: document frequency, document length, and ranking run as
    windows over the one tf table — a groupBy+join formulation would
    re-execute the token explosion per join (no exchange reuse across
    join subtrees). Exactly two scans: the tf pipeline and the
    column-pruned corpus-size count."""
    from beehive_data_etl_spark.functions.text import tfidf_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(tfidf_top_terms(docs))
    assert plan.count("Scan parquet") == 2 * 2, plan  # formatted: ×2


def test_cooccur_checkpointed_df_table(spark):
    """q_cooccur: the vocabulary-sized df table is materialized once
    (localCheckpoint) and consumed three times as in-memory blocks —
    the corpus parquet appears exactly twice (df job runs separately;
    the live plan holds the pair-expansion scan + the corpus-size
    count), never once per df consumer."""
    from beehive_data_etl_spark.functions.text import token_cooccurrence

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(token_cooccurrence(docs))
    assert plan.count("Scan parquet") == 2 * 2, plan  # formatted: ×2
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_txn_release_decision_is_broadcast(spark):
    """The transaction-release join must broadcast the (metadata-sized)
    committed-txn set — the event side never shuffles for the release
    decision, at any scale."""
    consistent = plan_of(QUERIES["q_txn_consistent"](spark, SF))
    stuck = plan_of(QUERIES["q_txn_stuck"](spark, SF))
    assert "BroadcastHashJoin" in consistent and "LeftSemi" in consistent
    assert "BroadcastHashJoin" in stuck and "LeftAnti" in stuck
    # no sort-merge fallback: a SMJ here would shuffle the event stream
    assert "SortMergeJoin" not in consistent and "SortMergeJoin" not in stuck


def test_bm25_single_explosion_topk_no_global_sort(spark):
    """q_bm25: the corpus explosion feeds BOTH the stats aggregation
    and the scoring join, so per_doc is checkpoint-pinned (the explode
    pipeline runs once, in the checkpoint job) — the live plan's only
    corpus scan is the column-pruned n_docs count (ReadSchema:
    struct<>), and the top-k is TakeOrderedAndProject (per-partition
    heaps), never a global Sort+Limit."""
    from beehive_data_etl_spark.functions.text import bm25_rank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(bm25_rank(docs, ["dup", "merge", "vector"]))
    assert plan.count("Scan parquet") == 1 * 2, plan  # formatted: ×2
    assert "ReadSchema: struct<>" in plan, plan  # the count scan reads 0 cols
    assert plan.count("Scan ExistingRDD") >= 2, plan  # pinned per_doc
    assert "TakeOrderedAndProject" in plan, plan


def test_entropy_two_aggregations_one_scan(spark):
    """q_entropy: one corpus scan, two chained aggregations (term
    counts -> per-doc fold), no joins, no windows."""
    from beehive_data_etl_spark.functions.text import token_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(token_entropy(docs))
    assert plan.count("Scan parquet") == 1 * 2, plan  # formatted: ×2
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_bottom_k_sample_single_shuffle(spark):
    """SampleView's full build ranks per group (bounding per-row state
    to k structs) and then aggregates on the SAME key: Catalyst must
    recognize the co-partitioning and run the groupBy with NO second
    exchange — one shuffle total, hot groups never re-shuffled."""
    from beehive_data_etl_spark.sinks.sample import _bottom_k

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"d{i}") for i in range(100)],
        "grp string, doc_id string",
    )
    plan = plan_of(_bottom_k(df, ["grp"], "doc_id", 4))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"bottom-k build grew extra shuffles:\n{plan}"


def test_bm25_stats_joins_are_broadcast(spark):
    """VERDICT r03 item 6: the 1-row aggregate crossJoins inside
    bm25_rank must be broadcast-hinted (never a shuffle or a
    non-broadcast nested loop against the corpus side) — without the
    hint the plan depends on AQE runtime stats to avoid a
    CartesianProduct."""
    from beehive_data_etl_spark.functions.text import bm25_rank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(bm25_rank(docs, ["dup", "merge", "vector"]))
    assert "CartesianProduct" not in plan, plan
    # both stats attachments (n_docs into stats, stats onto per_doc)
    # are broadcast nested loops
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan


def test_neardup_tombstone_band_expansion_is_broadcast(spark):
    """VERDICT r03 item 6 (audit follow-up): SignatureStore's delete
    path crossJoins deleted keys with the tiny band-id range — the
    range side must carry an explicit broadcast hint (source pin) and
    that shape must plan as a broadcast nested loop, never a shuffle
    of the deleted-keys side (plan pin on the identical shape)."""
    import inspect

    import beehive_data_etl_spark.functions.incremental_dedup as mod

    assert "crossJoin(F.broadcast(band_ids))" in inspect.getsource(mod)
    deleted = spark.createDataFrame(
        [("d1", 1), ("d2", 2)], "id string, op_sequence long"
    )
    band_ids = spark.range(8).select(F.col("id").cast("int").alias("band"))
    plan = plan_of(deleted.crossJoin(F.broadcast(band_ids)))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_sweep_single_shingle_materialization(spark):
    """q_dedup_sweep (round 5, VERDICT r04 item 5): the shingle lift is
    pinned via localCheckpoint and every downstream path — signature
    banding, BOTH exact-Jaccard verification join sides, and the final
    id universe — reads the pinned copy. The final plan therefore
    contains NO parquet scan at all (the one corpus scan lives inside
    the checkpointed projection, materialized once); the composed
    rounds-1-4 form re-shingled the corpus three times across four
    scans. The verified-edge frame is pinned too, so the CC rounds
    never re-run the candidate/verify pipeline."""
    df = QUERIES["q_dedup_sweep"](spark, SF)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    # and the pinned projection itself is exactly one corpus scan
    from pyspark.sql import functions as F

    from beehive_data_etl_spark.functions.dedup import word_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    shingled = docs.select(
        F.col("doc_id").alias("_k"), word_shingles("text", 3).alias("_sh")
    )
    sub = plan_of(shingled)
    assert sub.count("Scan parquet") == 2, sub  # formatted prints tree+details
