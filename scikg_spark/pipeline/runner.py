"""Full pipeline composition: pages -> statements -> tuples -> entities ->
graph tables, with per-stage snapshot checkpoints and resume.

Spark lifecycle (SURVEY.md §3, rebuild): one declarative plan per stage; the
only Python boundaries are the three Arrow-vectorized UDF passes (stage 1
extract/parse, stage 2 tag/correct/decode, stage 3 Jaccard verify). Catalyst
handles pushdown/pruning; AQE handles skew and partition coalescing.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from scikg_spark.ops.kg import attach_entities
from scikg_spark.pipeline.fused import extract_tuples
from scikg_spark.pipeline.stage1 import extract_statements
from scikg_spark.pipeline.stage3 import link_entities
from scikg_spark.pipeline.stage4 import SnapshotCatalog


def _edges(tuples: DataFrame, phrase_map: DataFrame,
           map_rows: int | None) -> DataFrame:
    """tuples + subject/object entity ids, with Iceberg's bucket(url)
    partition transform expressed directly: co-locates a url's edges and
    bounds files-per-partition at scale. ``map_rows`` is the committed
    entity_map's manifest row count (None without a catalog)."""
    return attach_entities(tuples, phrase_map, map_rows=map_rows).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: SnapshotCatalog | None = None,
    tagger: str = "rule",
    gold: DataFrame | None = None,
    weights_path: str | None = None,
    lang: str | None = "en",
    use_lsh: bool = True,
    resume: bool = True,
    corrections: dict | None = None,
) -> dict[str, DataFrame]:
    """Returns the stage tables. With a catalog, each stage is committed as a
    snapshot and a resumed run reuses every committed stage instead of
    recomputing it."""
    corrections = corrections or {}
    out: dict[str, DataFrame] = {}

    def stage(name, build, partition_by=(), force=False):
        t0 = time.time()
        if catalog is not None and resume and not force and catalog.is_complete(name):
            df = catalog.read(name)
            out[name] = df
            catalog.write_metrics(name, {"resumed": True, "wall_ms": 0})
            return df
        df = build()
        if catalog is not None:
            manifest = catalog.write(df, name, partition_by=partition_by)
            catalog.write_metrics(name, {
                "resumed": False,
                "rows": manifest["rows"],
                "wall_ms": int((time.time() - t0) * 1000)})
            df = catalog.read(name)
        out[name] = df
        return df

    statements = stage(
        "statements", lambda: extract_statements(pages, lang=lang))

    tuples = stage(
        "tuples",
        lambda: extract_tuples(statements, tagger=tagger, gold=gold,
                               weights_path=weights_path, **corrections),
        partition_by=("kind",))

    # stage 3 produces two tables from one computation; resume only when BOTH
    # are committed. Otherwise recompute once and FORCE-commit both — serving
    # a stale committed half next to a fresh recomputation would make their
    # mutual consistency depend on upstream bit-determinism.
    both_done = (
        catalog is not None and resume
        and catalog.is_complete("entity_nodes") and catalog.is_complete("entity_map"))
    if both_done:
        nodes = stage("entity_nodes", lambda: None)
        phrase_map = stage("entity_map", lambda: None)
    else:
        linked_nodes, linked_map = link_entities(tuples, use_lsh=use_lsh)
        nodes = stage("entity_nodes", lambda: linked_nodes, force=True)
        phrase_map = stage("entity_map", lambda: linked_map, force=True)

    map_rows = (catalog.manifest("entity_map")["rows"]
                if catalog is not None else None)
    stage("edges", lambda: _edges(tuples, phrase_map, map_rows),
          partition_by=("kind", "url_bucket"))
    return out


def run_pipeline_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    catalog: SnapshotCatalog,
    tagger: str = "rule",
    gold: DataFrame | None = None,
    weights_path: str | None = None,
    lang: str | None = "en",
    use_lsh: bool = True,
    corrections: dict | None = None,
) -> dict:
    """Catch-up run for a NEW batch of pages against an existing warehouse
    — the "next crawl snapshot arrived" production shape.

    Cost model at 10^12 docs: the Arrow extraction passes (stages 1-2)
    dominate, and they are per-document — so they run ONLY on the delta.
    ``statements`` and ``tuples`` append as new snapshots (history kept:
    ``incremental_read`` hands downstream consumers exactly the delta).
    Entity linking re-runs over the UNION, because canonicalization is
    global — a new mention can bridge two existing clusters and merge
    them — but its input is the distinct-mention vocabulary (sublinear in
    corpus size), never the corpus. Edges re-attach from the committed
    tuples snapshot via the same broadcast/salted dimension join as
    :func:`run_pipeline` — a join over already-materialized tuples, no
    re-extraction. Output tables are byte-compatible with a full
    :func:`run_pipeline` over the combined corpus (pinned by
    ``test_partition_resume.py::test_incremental_matches_full_recompute``).

    Returns ``{"tables": stage-DataFrames, "new_statements": n,
    "new_tuples": n}``.
    """
    corrections = corrections or {}

    # idempotent catch-up: pages already FULLY committed (url present in
    # BOTH the statements and tuples snapshots) are dropped BEFORE
    # extraction (anti-join against the committed distinct urls —
    # url-count-sized, broadcastable), so a crashed-and-rerun batch never
    # double-appends. Requiring both tables closes the crash-retry window
    # between the two commits (ADVICE r5, medium): a crash after the
    # statements commit but before the tuples commit left the url in
    # statements only, and the old statements-only guard then dropped the
    # whole batch on retry — the batch's tuples (and all downstream edges)
    # were silently and permanently missing. Now such pages are
    # re-extracted, and each table's delta is additionally filtered against
    # THAT table's own committed urls below, so the retry completes the
    # partial append exactly (statements delta empties, tuples delta
    # lands). Superseding a re-fetch (newer warc_ts wins) is the Iceberg
    # MERGE path on a real cluster — out of scope for the parquet stand-in,
    # and a re-fetch with IDENTICAL content is the common crash-retry case
    # this guard handles exactly.
    if catalog.is_complete("statements") and catalog.is_complete("tuples"):
        done = (catalog.read("statements").select("url")
                .intersect(catalog.read("tuples").select("url")))
        new_pages = new_pages.join(F.broadcast(done), "url", "left_anti")

    new_statements = extract_statements(new_pages, lang=lang)
    new_tuples = extract_tuples(new_statements, tagger=tagger, gold=gold,
                                weights_path=weights_path, **corrections)

    out: dict[str, DataFrame] = {}
    counts: dict[str, int] = {}
    for name, delta in (("statements", new_statements),
                        ("tuples", new_tuples)):
        had = catalog.is_complete(name)
        if had:
            # per-table idempotency: a retry never re-appends rows a table
            # already holds, even when the previous attempt committed only
            # one of the two tables (see the guard above)
            seen = catalog.read(name).select("url").distinct()
            delta = delta.join(F.broadcast(seen), "url", "left_anti")
        prev_rows = catalog.history(name)[-1]["rows"] if had else 0
        combined = catalog.read(name).unionByName(delta) if had else delta
        part = ("kind",) if name == "tuples" else ()
        manifest = catalog.write(combined, name, partition_by=part)
        counts[f"new_{name}"] = manifest["rows"] - prev_rows
        out[name] = catalog.read(name)

    tuples = out["tuples"]
    linked_nodes, linked_map = link_entities(tuples, use_lsh=use_lsh)
    catalog.write(linked_nodes, "entity_nodes")
    map_rows = catalog.write(linked_map, "entity_map")["rows"]
    out["entity_nodes"] = catalog.read("entity_nodes")
    out["entity_map"] = phrase_map = catalog.read("entity_map")

    edges = _edges(tuples, phrase_map, map_rows)
    catalog.write(edges, "edges", partition_by=("kind", "url_bucket"))
    out["edges"] = catalog.read("edges")
    return {"tables": out, **counts}
