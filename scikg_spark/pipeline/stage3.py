"""Stage 3: entity linking & canonicalization.

The reference canonicalizes nodes only by exact ``phrase#offset`` string
(MIMO_Extractor.py:170-221); cross-document linking is absent there. This
stage is the rebuild's scale extension mandated by the north rule: group
mention phrases into entities via

  1. exact normalized-string grouping (lower, '_' -> ' '),
  2. MinHash-LSH blocking over character shingles for near-duplicates,
  3. connected components over the union of (1)+(2) edges by iterative
     hash-min joins (no GraphFrames dependency), ``localCheckpoint`` per
     round to cut lineage.

Two plans, chosen by input size (*To Partition, or Not to Partition*,
SIGMOD'21): a vocabulary of at most ``DRIVER_LINK_MENTIONS`` (2^14) distinct
mentions is linked in driver Python from one Arrow-collected JVM probe and
comes back as Arrow local relations — stage 3 of a 3k-page build, commits
included, is 4 Spark jobs instead of 18. A larger one takes the distributed
plan below, which repeats the probe's distinct pass (+1.4 s at 65k). Cold
single runs of link + both commits on synthetic vocabularies, 4 cores,
driver vs distributed (Python driver RSS growth): 4k mentions 7.2 vs 11.9 s
(+42 MB), 16k 10.0 vs 15.0 s (+83 MB), 65k 19.6 vs 25.9 s (+258 MB), 262k
58.0 vs 62.3 s (+1.05 GB). Time crosses over near 2^18, memory grows ~4 KB
per mention; 2^14 keeps the driver's share under 100 MB.

Scale design: minhash signatures are computed IN PLACE with JVM array
expressions (array_min over transform of the shingle array — zero shuffle,
zero Python, no shingle explode); LSH buckets are capped (``max_bucket``) so
a hot block (stopword-like phrases) cannot produce a quadratic pair
explosion — the cap plus AQE skew-join handling is the documented skew
strategy; candidate pairs are verified with a true-Jaccard JVM expression
(array_intersect / array_union) before becoming edges.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import DataFrame, functions as F

from scikg_spark.pipeline.session import local_relation

# distinct-mention vocabularies up to this size are linked in driver Python
DRIVER_LINK_MENTIONS = 1 << 14
# LSH band buckets wider than this are dropped, not expanded into pairs
MAX_BUCKET = 64


def _norm(col: str):
    # the normalized string mentions group by: lower, '_' -> ' '
    return F.lower(F.regexp_replace(col, "_", " "))


def mention_phrases(tuples: DataFrame) -> DataFrame:
    """Distinct concept phrases from subject/object slots ->
    (phrase, phrase_id, norm)."""
    phrases = (
        tuples.select(
            F.explode(F.array(F.col("s_c.text"), F.col("o_c.text"))).alias("phrase"))
        .filter(F.col("phrase").isNotNull())
        .distinct()
    )
    return phrases.select(
        "phrase",
        F.xxhash64("phrase").alias("phrase_id"),
        _norm("phrase").alias("norm"),
    )


def _shingle_set(name: str, k: int = 3):
    # distinct k-char shingles of column `name`; short strings contribute
    # themselves once, so the set is never empty
    return F.array_distinct(F.expr(
        f"case when length({name}) <= {k} then array({name}) "
        f"else transform(sequence(0, length({name}) - {k}), "
        f"i -> substring({name}, i + 1, {k})) end"
    ))


def band_keys(sh: str, n_hashes: int = 16, band_size: int = 4) -> list:
    """MinHash band keys of the shingle-array column ``sh``, computed IN
    PLACE with array expressions (array_min over transform — no shingle
    explode, no shuffle): band b is the xxhash64 of signature slots
    ``b*band_size ..``, slot i being the min xxhash64 of ``'seed{i}:' +
    shingle``."""
    assert n_hashes % band_size == 0

    def slot(i):
        return F.expr(f"array_min(transform({sh}, s -> "
                      f"xxhash64(concat('seed{i}:', s))))")

    return [F.xxhash64(*[slot(b * band_size + j) for j in range(band_size)])
            for b in range(n_hashes // band_size)]


def lsh_candidate_pairs(
    phrases: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH candidate pairs (src < dst) over the ``norm`` strings."""
    sh = phrases.select("phrase_id", _shingle_set("norm", shingle_k).alias("sh"))
    banded = sh.select("phrase_id", F.posexplode(
        F.array(*band_keys("sh", n_hashes, band_size))).alias("band", "key"))
    # cap bucket width: hot buckets (near-stopword phrases) are dropped, not
    # exploded into O(n^2) pairs. Round 6: pairs are expanded IN PLACE on
    # the collected bucket (bounded by the cap) instead of a band self-join
    # — the join form planned as a BroadcastHashJoin whose build side re-ran
    # the whole signature pipeline (scan + shingles + hashes twice); the
    # grouped form computes signatures once and needs ONE grouping shuffle.
    # size(ids) is exactly the old window count, so cap semantics are
    # unchanged.
    from scikg_spark.ops.dedup import _pairs_sql

    grouped = banded.groupBy("band", "key").agg(
        F.collect_list("phrase_id").alias("ids"))
    return (
        grouped
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.explode(F.expr(_pairs_sql("ids", "src", "dst"))).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, phrases: DataFrame, shingle_k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """True shingle-set Jaccard filter on candidate pairs — pure JVM
    (array_intersect / array_union over distinct shingle arrays; no Python
    worker round-trip in the verification path)."""
    sh = phrases.select("phrase_id", _shingle_set("norm", shingle_k).alias("sh"))
    withs = (
        pairs.join(sh.select(F.col("phrase_id").alias("src"),
                             F.col("sh").alias("sh_a")), "src")
        .join(sh.select(F.col("phrase_id").alias("dst"),
                        F.col("sh").alias("sh_b")), "dst")
    )
    jaccard = (F.size(F.array_intersect("sh_a", "sh_b"))
               / F.size(F.array_union("sh_a", "sh_b")).cast("double"))
    return withs.filter(jaccard >= threshold).select("src", "dst")


def union_find(pairs) -> dict:
    """Connected components of an edge list in driver Python: {node: min
    node id of its component} for every node a pair touches — the labels
    the distributed hash-min converges to."""
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d in pairs:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    root_min: dict = {}
    for node in parent:
        r = find(node)
        root_min[r] = min(node, root_min.get(r, node))
    return {node: root_min[find(node)] for node in parent}


def _driver_union_find(rows, vertices: DataFrame) -> DataFrame:
    """CC for a DRIVER-SIZED edge list: :func:`union_find`, its mapping
    broadcast back over ``vertices`` (which may be huge) as an Arrow local
    relation."""
    comp = union_find(rows)
    mapping = local_relation(vertices.sparkSession,
                             {"id": list(comp), "_c": list(comp.values())},
                             "id bigint, _c bigint")
    return (
        vertices.join(F.broadcast(mapping), "id", "left")
        .select("id", F.coalesce("_c", "id").alias("comp"))
    )


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iter: int = 20,
                         driver_threshold: int = 1 << 18,
                         bidir: DataFrame | None = None) -> DataFrame:
    """Hash-min label propagation: (id) -> (id, comp) with comp = min id in
    the component. Iterative joins with localCheckpoint per round (bounded by
    ``max_iter``; converges in O(component diameter) rounds — phrase
    similarity components are shallow).

    ``bidir`` optionally passes an ALREADY-SYMMETRIZED, already-materialized
    edge list (both directions present, e.g. a localCheckpoint the caller
    still needs for its vertex set) — the union+checkpoint here is then
    skipped, one materialization instead of two (round 6: the linking chain
    is latency-bound on its job count, not on data volume).

    Edge lists at or under ``driver_threshold`` rows short-circuit to a
    driver-side union-find — the same size rationale as a broadcast join,
    and it replaces tens of iterative-join Spark jobs with one collect. The
    probe is a COUNT over the already-checkpointed adjacency (pennies), so
    the expensive upstream (LSH + Jaccard verify) materializes exactly once
    whichever path runs, and rows are collected only when the graph is
    actually under the threshold. The default is 256k edges: Python Row
    overhead is hundreds of bytes per edge, so that is tens of MB of driver
    heap — broadcast-table territory — not the raw 16 B/edge a binary layout
    would suggest. Edge sets over the threshold take the distributed
    iterative path; pass ``driver_threshold=0`` to force it."""
    if bidir is None:
        bidir = edges.union(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
        # materialize the adjacency ONCE before any probe/iteration: both
        # the driver short-circuit and the distributed rounds reuse this
        bidir = bidir.localCheckpoint()
    n_edges = bidir.count()
    if driver_threshold and n_edges <= driver_threshold:
        return _driver_union_find(bidir.collect(), vertices)
    # size the per-round shuffles to the actual edge count: tiny graphs get a
    # handful of partitions instead of spark.sql.shuffle.partitions-many
    # micro-tasks per iteration (at 10^12-doc scale the default takes over)
    n_parts = max(2, min(int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")), n_edges // 50_000 + 2))
    bidir = bidir.repartition(n_parts, "src")
    comp = vertices.select(F.col("id"), F.col("id").alias("comp"))
    # cut the vertex lineage too: the initial comp frame is referenced three
    # times per round (two propagate hops + the convergence join) — without a
    # checkpoint each materialization would recompute the full upstream
    # pipeline (LSH + verification UDFs) that produced the vertex set
    comp = comp.repartition(n_parts, "id").localCheckpoint()

    def propagate(frame):
        nbr_min = (
            bidir.join(frame, bidir["src"] == frame["id"])
            .groupBy(bidir["dst"].alias("id2"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return (
            frame.join(nbr_min, frame["id"] == nbr_min["id2"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"))
        )

    converged = False
    for _ in range(max_iter):
        # two hops per materialized round halves the number of Spark jobs
        # (convergence checks + checkpoints dominate on small graphs)
        updated = (
            propagate(propagate(comp))
            .withColumnRenamed("comp", "new_comp")
            .join(comp.withColumnRenamed("comp", "old_comp"), "id")
            .localCheckpoint()  # eager: one materialization per round
        )
        comp = updated.select("id", F.col("new_comp").alias("comp"))
        if updated.filter(F.col("new_comp") != F.col("old_comp")).limit(1).count() == 0:
            converged = True
            break
    if not converged:
        # never return silently-wrong labels: a component with diameter
        # > 2*max_iter would end up split into several entity ids
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} rounds "
            f"(component diameter > {2 * max_iter}); labels may split "
            f"components — raise max_iter", RuntimeWarning, stacklevel=2)
    return comp.localCheckpoint()


def synonym_phrase_edges(phrases: DataFrame, synonyms: DataFrame) -> DataFrame:
    """Synonym pairs (the reference's ``n: [C1, as, C2]`` label tuples,
    utils.py:638-644) as entity-linking edges: join both phrase columns onto
    the mention table by normalized string."""
    a = synonyms.select(_norm("phrase_a").alias("na"), _norm("phrase_b").alias("nb"))
    pa = phrases.select(F.col("norm").alias("na"), F.col("phrase_id").alias("src"))
    pb = phrases.select(F.col("norm").alias("nb"), F.col("phrase_id").alias("dst"))
    return (
        a.join(pa, "na").join(pb, "nb")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _link_on_driver(spark, probe, lsh_threshold: float,
                    synonyms: DataFrame | None) -> tuple[DataFrame, DataFrame]:
    """The distributed plan's semantics over the collected probe (an Arrow
    table of phrase, phrase_id, norm and, with LSH, sh and keys): exact-norm
    grouping, capped band buckets over one representative per norm, Jaccard
    verify, synonyms, union-find. Both outputs are Arrow local relations."""
    phrases = probe.column("phrase").to_pylist()
    ids = probe.column("phrase_id").to_pylist()
    norms = probe.column("norm").to_pylist()
    root: dict = {}  # norm -> min phrase_id, the group's representative
    for pid, norm in zip(ids, norms):
        root[norm] = min(pid, root.get(norm, pid))
    pairs = [(root[norm], pid) for pid, norm in zip(ids, norms)]
    if "keys" in probe.column_names:
        shingles: dict = {}
        buckets = defaultdict(list)
        for pid, norm, sh, keys in zip(ids, norms, probe.column("sh").to_pylist(),
                                       probe.column("keys").to_pylist()):
            if pid == root[norm]:
                shingles[pid] = set(sh)
                for band, key in enumerate(keys):
                    buckets[band, key].append(pid)
        candidates = {(a, b) for bucket in buckets.values()
                      if 2 <= len(bucket) <= MAX_BUCKET
                      for a in bucket for b in bucket if a < b}
        for a, b in candidates:
            sa, sb = shingles[a], shingles[b]
            if len(sa & sb) / len(sa | sb) >= lsh_threshold:
                pairs.append((a, b))
    if synonyms is not None:
        for na, nb in synonyms.select(_norm("phrase_a"), _norm("phrase_b")).collect():
            if na in root and nb in root:
                pairs.append((root[na], root[nb]))
    comp = union_find(pairs)
    entity = [comp[pid] for pid in ids]
    canonical: dict = {}
    for eid, norm in zip(entity, norms):
        canonical[eid] = min(norm, canonical.get(eid, norm))
    n_phrases = Counter(entity)
    nodes = local_relation(
        spark, {"entity_id": list(canonical),
                "canonical": list(canonical.values()),
                "n_phrases": [n_phrases[eid] for eid in canonical]},
        "entity_id bigint, canonical string, n_phrases bigint")
    phrase_map = local_relation(spark, {"phrase": phrases, "entity_id": entity},
                                "phrase string, entity_id bigint")
    # one partition each: a local relation splits over every core, and its
    # snapshot would be that many small files for a broadcast-sized table
    return nodes.coalesce(1), phrase_map.coalesce(1)


def link_entities(tuples: DataFrame, lsh_threshold: float = 0.8,
                  use_lsh: bool = True,
                  synonyms: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """tuples -> (entity_nodes, phrase_map).

    entity_nodes: entity_id, canonical (deterministic min norm in the
    component), n_phrases. phrase_map: phrase -> entity_id. ``synonyms``
    optionally contributes curated pair edges (phrase_a, phrase_b).

    The probe projects phrase, phrase_id, norm, shingle set and band keys
    over the distinct mentions and collects ``DRIVER_LINK_MENTIONS + 1``
    rows at most through Arrow; at or under the bound (the crossover is in
    the module docstring) the rest runs on the driver. Above it the
    distributed plan below runs and repeats the probe's distinct pass.
    """
    probe = mention_phrases(tuples)
    if use_lsh:
        probe = probe.withColumn("sh", _shingle_set("norm")) \
                     .withColumn("keys", F.array(*band_keys("sh")))
    local = probe.limit(DRIVER_LINK_MENTIONS + 1).toArrow()
    if local.num_rows <= DRIVER_LINK_MENTIONS:
        return _link_on_driver(tuples.sparkSession, local, lsh_threshold, synonyms)

    from pyspark.sql.window import Window

    # Materialize the distinct-mention + window pass ONCE (round 6): the
    # frame fans out into FOUR consumers per side of the symmetrizing union
    # (star edges, LSH signatures, both Jaccard-verify sides) and the
    # localCheckpoint/AQE execution path gives no subtree reuse — a
    # `.cache()` here lost the race when AQE materialized those stage jobs
    # concurrently, so the explode+distinct over the wide tuples cache ran
    # 8x (measured: 8 racing 32-task stages, ~10 CPU-s each at sf0.1, for a
    # 917-row result). The checkpoint is the distinct-mention table — the
    # same thing the cache held, eagerly and exactly once. LSH still runs
    # over ONE representative per distinct norm (same-norm phrases are
    # already connected by the star), which shrinks the signature
    # computation and band join by the duplication factor — at web scale
    # duplicate surface forms dominate the mention table.
    with_root = mention_phrases(tuples).withColumn(
        "root", F.min("phrase_id").over(Window.partitionBy("norm"))) \
        .localCheckpoint()
    phrases = with_root.select("phrase", "phrase_id", "norm")
    edges = (
        with_root.filter(F.col("phrase_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("phrase_id").alias("dst"))
    )
    if use_lsh:
        reps = with_root.filter(F.col("phrase_id") == F.col("root")) \
                        .select("phrase_id", "norm")
        cand = lsh_candidate_pairs(reps)
        edges = edges.union(verify_jaccard(cand, reps, threshold=lsh_threshold))
    if synonyms is not None:
        edges = edges.union(synonym_phrase_edges(phrases, synonyms))
    # materialize the edge pipeline (LSH bands + Jaccard verify) exactly
    # once, already SYMMETRIZED: the CC adjacency and the vertex set both
    # read this one checkpoint (round 6 — previously the directed edges and
    # the bidirectional adjacency were two separate materializations)
    bidir = edges.union(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))) \
                 .localCheckpoint()
    # CC only over vertices an edge touches; singleton phrases (the vast
    # majority) skip the iterative rounds entirely and map to themselves.
    # src of the symmetrized list covers both endpoints of every edge.
    touched = bidir.select(F.col("src").alias("id")).distinct()
    comp = connected_components(edges, touched, bidir=bidir)
    # materialize the phrase -> entity join ONCE and derive both outputs
    # from it: callers checkpoint nodes AND phrase_map, which previously
    # re-ran this join (phrases x comp) for each — round 6, one pass
    mapped = phrases.join(comp, phrases["phrase_id"] == comp["id"], "left").select(
        "phrase", "norm",
        F.coalesce("comp", "phrase_id").alias("entity_id")).localCheckpoint()
    nodes = mapped.groupBy("entity_id").agg(
        F.min("norm").alias("canonical"),
        F.countDistinct("phrase").alias("n_phrases"),
    )
    return nodes, mapped.select("phrase", "entity_id")
