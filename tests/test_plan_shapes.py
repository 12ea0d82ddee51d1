"""Plan-shape regression pins for the round-6 dedup/LSH rewrites (the
pattern test_pagerank_iteration_single_exchange established): a future
refactor that reintroduces the duplicated-subtree self-join — the shape that
made minhash/ngram re-run the whole scan+hash pipeline once per join side —
fails a test here, not a bench read."""

import io
import re
from contextlib import redirect_stdout

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_ops(plan: str, op: str) -> int:
    """Count operator DETAIL headers like '(12) Scan parquet' — formatted
    explain lists every operator twice (tree + details)."""
    return len(re.findall(rf"\(\d+\) {op}", plan))


def test_minhash_pairs_single_subtree(spark):
    """Pair generation happens in place on the collected band bucket: no
    join anywhere, and the signature pipeline scans the corpus exactly
    once."""
    from scikg_spark.ops.dedup import q_minhash_dup_pairs

    plan = _formatted(q_minhash_dup_pairs(spark, SF))
    assert "Join" not in plan, plan
    assert _n_ops(plan, "Scan parquet") == 1, plan


def test_contamination_single_subtree(spark):
    """Corpus x bench matches expand in place per capped gram group — one
    corpus scan, no join."""
    from scikg_spark.ops.dedup import q_contamination

    plan = _formatted(q_contamination(spark, SF))
    assert "Join" not in plan, plan
    assert _n_ops(plan, "Scan parquet") == 1, plan


def test_ngram_jaccard_joins_checkpoint_not_rescan(spark):
    """The band self-join and the hot-gram count read the checkpointed gram
    table, never the parquet scan — the gram/md5 pipeline ran exactly once
    at checkpoint time. Set sizes ride the checkpoint, so no sizes subtree
    re-scans the corpus either, and the hot-list anti-join is a broadcast
    (map-side drop, no gram-table shuffle for capping)."""
    from scikg_spark.ops.dedup import q_ngram_jaccard_pairs

    plan = _formatted(q_ngram_jaccard_pairs(spark, SF))
    assert _n_ops(plan, "Scan parquet") == 0, plan
    assert _n_ops(plan, "Scan ExistingRDD") >= 2, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan


def test_stage3_lsh_pairs_no_join(spark):
    """stage-3 LSH candidate pairs: in-place bucket expansion, no join."""
    from pyspark.sql import Row

    from scikg_spark.pipeline.stage3 import lsh_candidate_pairs

    phrases = spark.createDataFrame(
        [Row(phrase_id=i, norm=f"phrase number {i}") for i in range(20)])
    plan = _formatted(lsh_candidate_pairs(phrases))
    assert "Join" not in plan, plan


def test_union_find_mapping_is_jvm_local_relation(spark):
    """The driver union-find's broadcast mapping must build as an Arrow
    local relation (LocalTableScan), not a Python-RDD parallelize — the
    list-based createDataFrame launched 32 Python-worker tasks (7-35 CPU-s
    cold) per linking/CC pass just to ship a sub-1k-row table."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import _driver_union_find

    vertices = spark.range(10).select(F.col("id"))
    comp = _driver_union_find([(0, 1), (1, 2), (5, 6)], vertices)
    plan = _formatted(comp)
    assert "applySchemaToPythonRDD" not in plan, plan
    assert _n_ops(plan, "LocalTableScan") == 1, plan


def test_link_entities_evaluates_upstream_once(spark, monkeypatch):
    """link_entities evaluates its source once on the driver path (the
    probe) and twice on the distributed path (the probe, then the
    distinct-mention window, materialized exactly once). The pre-round-6
    `.cache()` form lost the race when AQE materialized the 8 consumer
    stage jobs concurrently (star edges, LSH signatures, both Jaccard-verify
    sides, x2 for the symmetrizing union), re-running the upstream per
    consumer. An accumulator-counting UDF source detects any regression: 8
    racing evaluations would read every source row ~8x."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from scikg_spark.pipeline import stage3

    n = 40
    for bound, passes in ((stage3.DRIVER_LINK_MENTIONS, 1), (0, 2)):
        monkeypatch.setattr(stage3, "DRIVER_LINK_MENTIONS", bound)
        acc = spark.sparkContext.accumulator(0)

        def spy(v, acc=acc):
            acc.add(1)
            return f"Concept_{v}"

        spy_udf = F.udf(spy, T.StringType()).asNondeterministic()
        base = spark.range(n).select(
            F.struct(spy_udf(F.col("id")).alias("text")).alias("s_c"),
            F.struct(F.concat(F.lit("Obj_"), (F.col("id") % 7).cast("string"))
                     .alias("text")).alias("o_c"))
        nodes, phrase_map = stage3.link_entities(base)
        nodes.collect()
        phrase_map.collect()
        # `passes` evaluations of the source = passes * n spy calls; the
        # un-materialized form measures 2.0x more even at 4 cores (8x at
        # 32), so the +0.5 slack fails any recomputation regression while
        # leaving room for a stray retried task
        assert acc.value <= (passes + 0.5) * n, \
            f"bound {bound}: source evaluated {acc.value / n:.1f}x"


def test_small_vocabulary_links_on_the_driver(spark, tmp_path):
    """Under the bound, stage 3 of a build — link_entities plus its two
    snapshot commits — is at most 4 Spark jobs (the probe's distinct and
    collect, one per write), and both outputs plan as Arrow local
    relations, not Python-RDD scans."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import link_entities
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.write(spark.range(300).select(
        F.struct(F.concat(F.lit("Concept_"), (F.col("id") % 120).cast("string"))
                 .alias("text")).alias("s_c"),
        F.struct(F.concat(F.lit("object_"), (F.col("id") % 45).cast("string"))
                 .alias("text")).alias("o_c"),
        (F.col("id") % 2).cast("string").alias("kind")),
        "tuples", partition_by=("kind",))
    tuples = cat.read("tuples")
    linked = {}

    def stage3_commits():
        linked["nodes"], linked["map"] = link_entities(tuples)
        cat.write(linked["nodes"], "entity_nodes")
        cat.write(linked["map"], "entity_map")

    assert _jobs_in(spark, "stage3", stage3_commits) <= 4
    for name, df in linked.items():
        plan = _formatted(df)
        assert "applySchemaToPythonRDD" not in plan, (name, plan)
        assert _n_ops(plan, "LocalTableScan") == 1, (name, plan)


def test_extraction_is_one_python_pass(spark, tmp_path):
    """Tag, correct and decode run in exactly one MapInPandas for every
    tagger, corrections on; stage 2's tags-only pass is one MapInPandas
    too (a correction flag used to chain a second one)."""
    from scikg_spark.core.neural import ProbeTagger
    from scikg_spark.pipeline.fused import extract_tuples
    from scikg_spark.pipeline.gold import GOLD_DDL
    from scikg_spark.pipeline.stage1 import STATEMENTS_SCHEMA
    from scikg_spark.pipeline.stage2 import tag_statements

    # a statements source with no Python in its plan (LocalTableScan)
    stmts = spark.createDataFrame(
        [("https://example.org/doc/1", "1", 1, ["Cells", "grow"],
          ["NNS", "VBP"], ["C", "O"])], schema=STATEMENTS_SCHEMA)
    probe = str(tmp_path / "probe.npz")
    ProbeTagger(seed=1).save(probe)
    gold = spark.createDataFrame([("1", 1, ["O", "O"], ["O", "O"])],
                                 schema=GOLD_DDL)
    on = {"use_tc": True, "use_sh": True, "use_del": True}
    frames = {
        "rule": extract_tuples(stmts, **on),
        "probe": extract_tuples(stmts, tagger="probe", weights_path=probe, **on),
        "gold": extract_tuples(stmts, tagger="gold", gold=gold, **on),
        "tag_statements": tag_statements(stmts, mode="rule", use_tc=True),
    }
    for name, df in frames.items():
        plan = _formatted(df)
        assert _n_ops(plan, "MapInPandas") == 1, (name, plan)


def _jobs_in(spark, group, fn):
    """Run ``fn`` under job group ``group``; return how many Spark jobs it
    issued."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_commit_is_one_job_and_read_none(spark, tmp_path):
    """A stage-4 commit is the write job alone: rows and checksum are
    observed by it, lineage comes from the footers, and the stored schema
    means reading a snapshot back infers nothing."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.range(200).select(
        "id", (F.col("id") % 2).cast("string").alias("kind"),
        (F.col("id") % 4).cast("int").alias("url_bucket"),
        F.array("id").alias("ids"))
    for table, partition_by in (("plain", ()),
                                ("parted", ("kind", "url_bucket"))):
        n = _jobs_in(spark, f"write-{table}",
                     lambda: cat.write(df, table, partition_by=partition_by))
        assert n == 1, (table, n)
        assert _jobs_in(spark, f"read-{table}", lambda: cat.read(table)) == 0
