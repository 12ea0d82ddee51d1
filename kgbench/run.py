"""KG benchmark: one closed-loop client issuing one op at a time on local[4].

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. A run generates its inputs from ``--seed``
(gen.py), computes the reference outputs, starts a Spark session, warms it
up with ops on the workload's own input, then issues ops until ``--seconds``
have passed and checks the output of every op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also enables the
Spark event log, runs the same untraced ops, then one traced op whose spans
(kgtrace.py) give the per-layer metrics. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's details (traffic properties, input digest, per-op walls,
phase times, host calibration). Scratch files live under ``.kgbench_work/``
in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import kgtrace  # noqa: E402

CORES = 4
# a driver heap that leaves room on a 15 GB host shared with other work
DRIVER_MEM = "3g"

KG_PAGES = 3000
# five (lang, source) blocks of sf1.0's size, see gen.py
CURATE_DOCS = 2500

WRITE_SPANS = kgtrace.WRITE_SPANS
SPARK_SPANS = ("session", "stage1", "fused", "stage3", "runner.edges",
               "stage4", "runner", "dedup.keep_policy", "dedup.ngram_pairs",
               "text.filter_policy_lm")
CORE_FUNCS = ("extract", "parse", "tag", "decode")


# -- host measurements ----------------------------------------------------

def _descendants(pid: int) -> list[int]:
    children = collections.defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pids) -> dict:
    """RSS summed per command name: ``java`` is the driver JVM, ``python*``
    its Python daemon and workers. Other descendants are shell helpers the
    JVM spawns (``chmod``, ``bash``) or a JVM thread between fork and exec,
    whose RSS is the JVM's own pages counted twice, so they are left out."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = collections.Counter()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total[comm] += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and the Python workers it forks
    (descendants of this process), sampled from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.by_comm = collections.Counter()
        self._done = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._done.wait(0.2):
            rss = _rss_bytes(_descendants(me))
            self.peak = max(self.peak, sum(rss.values()))
            for k, v in rss.items():
                self.by_comm[k] = max(self.by_comm[k], v >> 20)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


def calibrate() -> dict:
    """Host weather, informational: a 0.5 s single-thread 512^2 float32
    GEMM probe and a CORES-process pure-Python int burn."""
    import subprocess

    import numpy as np

    a = np.zeros((512, 512), dtype=np.float32) + 0.5
    t0, n = time.perf_counter(), 0
    while time.perf_counter() - t0 < 0.5:
        a @ a
        n += 1
    gflops = n * 2 * 512 ** 3 / 1e9 / (time.perf_counter() - t0)
    iters = 1_000_000
    burn = f"s = 0\nfor i in range({iters}): s += i * i"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", burn])
             for _ in range(CORES)]
    for p in procs:
        p.wait()
    miters = CORES * iters / 1e6 / (time.perf_counter() - t0)
    return {"host_gemm_gflops": round(gflops, 1),
            "host_miters_per_sec": round(miters, 1)}


# -- workloads --------------------------------------------------------------
#
# A workload generates its input in __init__, computes reference outputs in
# reference(), and runs one op per op() call: op() returns (wall seconds,
# rows the op produced, handle); check(handle) returns None or what was
# wrong; release(handle) frees the op's output.

class KgBuild:
    """Repeated full ``run_pipeline`` into a fresh SnapshotCatalog."""

    name = "kg_build"
    # the first op on a fresh session pays JIT, codegen and Python-worker
    # start-up (20-27 s, then 9-11 s, 9-10 s, 8-9 s); one warm-up op keeps
    # a run near 50 s, and every run times the same (second) op
    warm_ops = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        rows, self.props = gen.make_pages(seed, KG_PAGES)
        self.digest = gen.digest(rows)
        self.pages_path = os.path.join(work, "pages.parquet")
        gen.write_parquet(rows, gen.PAGES_SCHEMA, self.pages_path)
        self._pages = rows
        self.core: dict[str, float] = {}

    def reference(self):
        """Single-process decode of the same pages through ``core``'s
        public functions; also yields the ``core.*`` per-call timings."""
        from scikg_spark.core.decoder import NIL, post_decode
        from scikg_spark.core.parsing import parse_annotated
        from scikg_spark.core.serialize import serialize_tuple
        from scikg_spark.core.tagger import rule_tag
        from scikg_spark.core.textextract import extract_text

        clock = time.perf_counter
        spent = dict.fromkeys(CORE_FUNCS, 0.0)
        tuples, phrases = collections.Counter(), set()
        n_pages = n_stmts = 0
        t_all = clock()
        for p in self._pages:
            if p["lang"] != "en":
                continue
            n_pages += 1
            url = p["url"]
            doc_id = url.rsplit("/", 1)[-1]
            t0 = clock()
            text = extract_text(p["html"])
            spent["extract"] += clock() - t0
            for i, line in enumerate(text.split("\n")):
                if not line:
                    continue
                t0 = clock()
                try:
                    words, postags, caps = parse_annotated(line, lower=False)
                except (ValueError, AssertionError):
                    continue
                finally:
                    spent["parse"] += clock() - t0
                n_stmts += 1
                t0 = clock()
                fact, cond = rule_tag(words, postags, caps)
                t1 = clock()
                spent["tag"] += t1 - t0
                for kind, tags in (("f", fact), ("c", cond)):
                    for idx, rec in enumerate(post_decode(words, tags)):
                        subj, pred, obj = serialize_tuple(rec)
                        tuples[(url, doc_id, i + 1, kind, idx + 1,
                                subj, pred, obj)] += 1
                        phrases.update(s[0] for s in (rec[0], rec[3])
                                       if s != NIL)
                spent["decode"] += clock() - t1
        self.core = {
            "core.wall_s": clock() - t_all,
            "core.extract_us_per_page": spent["extract"] * 1e6 / n_pages,
            "core.parse_us_per_stmt": spent["parse"] * 1e6 / n_stmts,
            "core.tag_us_per_stmt": spent["tag"] * 1e6 / n_stmts,
            "core.decode_us_per_stmt": spent["decode"] * 1e6 / n_stmts,
        }
        self.ref_tuples, self.ref_phrases = tuples, phrases
        self.props["decoded_tuples"] = sum(tuples.values())
        self._pages = None

    def op(self, spark, n: int, tracer=None):
        from scikg_spark.pipeline import runner
        from scikg_spark.pipeline.stage4 import SnapshotCatalog

        catalog = SnapshotCatalog(spark, os.path.join(self.work, f"wh-{n}"))
        pages = spark.read.parquet(self.pages_path)
        with contextlib.nullcontext() if tracer is None else _kg_spans(tracer):
            t0 = time.perf_counter()
            runner.run_pipeline(spark, pages, catalog, resume=False)
            wall = time.perf_counter() - t0
        return wall, catalog.manifest("tuples")["rows"], catalog

    def check(self, catalog) -> str | None:
        cols = ("url", "doc_id", "stmt_id", "kind", "tuple_idx",
                "subj", "pred", "obj")
        got = collections.Counter(
            catalog.read("tuples").select(*cols).toPandas()
            .itertuples(index=False, name=None))
        if got != self.ref_tuples:
            return (f"tuples differ from the reference decode: "
                    f"{sum((got - self.ref_tuples).values())} extra, "
                    f"{sum((self.ref_tuples - got).values())} missing")
        phrases = catalog.read("entity_map").select("phrase").toPandas()["phrase"]
        if len(phrases) != len(set(phrases)) or set(phrases) != self.ref_phrases:
            return (f"entity_map maps {len(phrases)} rows / "
                    f"{len(set(phrases))} phrases, expected "
                    f"{len(self.ref_phrases)} phrases once each")
        n_edges = catalog.read("edges").count()
        if n_edges != sum(got.values()):
            return f"edges has {n_edges} rows, tuples {sum(got.values())}"
        return None

    def release(self, catalog):
        shutil.rmtree(catalog.base_dir, ignore_errors=True)

    def layer_counts(self, catalog) -> dict:
        rows = {t: catalog.manifest(t)["rows"] for t in WRITE_SPANS}
        n_bytes = n_files = 0
        for dirpath, _, files in os.walk(catalog.base_dir):
            for f in files:
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
        return {
            **self.core,
            "stage1.rows_in": self.props["en_pages"],
            "stage1.rows_out": rows["statements"],
            "fused.rows_out": rows["tuples"],
            "stage3.phrases": rows["entity_map"],
            "stage3.entities": rows["entity_nodes"],
            "runner.edges.rows_out": rows["edges"],
            "stage4.bytes_written": n_bytes,
            "stage4.files_written": n_files,
            "stage4.bytes_per_new_tuple": n_bytes / rows["tuples"],
        }


@contextlib.contextmanager
def _kg_spans(tracer):
    """Wrap the runner's calls into stage 3 and stage 4 so each write and
    the linking call run in their layer's span, inside an op-level
    ``runner`` span that catches the jobs issued between them."""
    from scikg_spark.pipeline import runner
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    def write_span(self, df, table, *args, **kwargs):
        return WRITE_SPANS[table]

    with tracer.patched(SnapshotCatalog, "write", write_span), \
            tracer.patched(runner, "link_entities", lambda *a, **k: "stage3"), \
            tracer.span("runner"):
        yield


class Curate:
    """Repeated curation pass: three queries, each result collected."""

    name = "curate"
    # cold pass 18-28 s, then 8-11 s, then 7-10 s
    warm_ops = 2

    def __init__(self, work: str, seed: int):
        from scikg_spark.ops import dedup, text

        # (span, query name in __spark_entry__.queries(), query)
        self.queries = (
            ("dedup.keep_policy", "q_dedup_keep_policy",
             dedup.q_dedup_keep_policy),
            ("dedup.ngram_pairs", "q_ngram_jaccard_pairs",
             dedup.q_ngram_jaccard_pairs),
            ("text.filter_policy_lm", "q_filter_policy_lm",
             text.q_filter_policy_lm))
        rows, self.props = gen.make_documents(seed, CURATE_DOCS)
        self.digest = gen.digest(rows)
        self.sf_dir = os.path.join(work, "corpus")
        os.makedirs(self.sf_dir)
        self.docs_path = os.path.join(self.sf_dir, "documents.parquet")
        gen.write_parquet(rows, gen.DOCUMENTS_SCHEMA, self.docs_path)
        self.doc_ids = sorted(r["doc_id"] for r in rows)
        self.lm_digest = None
        self.rows_out: dict[str, int] = {}

    def reference(self):
        """DuckDB mirrors from ``__spark_entry__.oracle_sql()`` over the
        generated documents: the two dedup queries, and ``q_filter_policy``,
        the SQL-expressible gates of the LM query."""
        import duckdb

        import __spark_entry__
        from scikg_spark.jobs.driver_replica import _normalize

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
        # DuckDB re-runs the keep policy's ``pairs`` CTE on every step of
        # its recursion; materializing it once gives the same rows ~7x faster
        oracle["q_dedup_keep_policy"] = oracle["q_dedup_keep_policy"].replace(
            "pairs AS (", "pairs AS MATERIALIZED (", 1)
        self.ref = {name: _normalize(con.sql(oracle[name]).df())
                    for _, name, _ in self.queries if name in oracle}
        base = con.sql(oracle["q_filter_policy"]).df()
        self.base_reason = dict(zip(base["doc_id"], base["reason"]))
        con.close()
        self.props["dup_pairs"] = len(self.ref["q_ngram_jaccard_pairs"])
        self.props["kept_docs"] = len(self.ref["q_dedup_keep_policy"])

    def op(self, spark, n: int, tracer=None):
        out = {}
        t0 = time.perf_counter()
        for span, name, query in self.queries:
            with contextlib.nullcontext() if tracer is None else tracer.span(span):
                out[name] = query(spark, self.sf_dir).toPandas()
        return time.perf_counter() - t0, len(self.doc_ids), out

    def check(self, out) -> str | None:
        from scikg_spark.jobs.driver_replica import _normalize

        for span, name, _ in self.queries:
            got = out[name]
            self.rows_out[span] = len(got)
            if name in self.ref:
                want, got = self.ref[name], _normalize(got)
                if (list(got.columns) != list(want.columns)
                        or len(got) != len(want) or (got != want).any(axis=None)):
                    return f"{name} differs from its DuckDB mirror"
                continue
            err = self._check_lm(name, got)
            if err:
                return err
            # the same output on every op, warm-up ops included; the detail
            # line carries the digest so runs of one seed can be compared
            digest = hashlib.sha256(
                _normalize(got).to_csv(index=False).encode()).hexdigest()[:16]
            if self.lm_digest is None:
                self.lm_digest = digest
            elif digest != self.lm_digest:
                return f"{name}: digest {digest} != {self.lm_digest}"
        return None

    def _check_lm(self, name, got) -> str | None:
        """The LM query has no SQL mirror. Each doc's reason must be the
        one the ``q_filter_policy`` mirror gives it, unless that is 'ok':
        then it is 'perplexity' exactly when ppl reaches the LM gate's
        threshold. ``keep`` must be reason == 'ok'."""
        from scikg_spark.ops.text import FILTER_MAX_PPL

        if sorted(got["doc_id"]) != self.doc_ids:
            return f"{name}: {len(got)} rows for {len(self.doc_ids)} docs"
        bad = 0
        for doc_id, keep, reason, ppl in got[
                ["doc_id", "keep", "reason", "ppl"]].itertuples(index=False):
            want = self.base_reason[doc_id]
            if want == "ok" and ppl >= FILTER_MAX_PPL:  # NaN ppl passes
                want = "perplexity"
            bad += reason != want or bool(keep) != (want == "ok")
        if bad:
            return f"{name}: {bad} docs with another reason than the mirror's"
        return None

    def release(self, _):
        pass

    def layer_counts(self, _) -> dict:
        return {f"{span}.rows_out": n for span, n in self.rows_out.items()}


WORKLOADS = {w.name: w for w in (KgBuild, Curate)}


# -- metrics ----------------------------------------------------------------

def per_layer_names() -> list[str]:
    names = ["session.start_s", "session.warmup_s"]
    names += [f"core.{k}" for k in ("wall_s", "extract_us_per_page",
                                    "parse_us_per_stmt", "tag_us_per_stmt",
                                    "decode_us_per_stmt")]
    names += [f"{s}.{f}" for s in SPARK_SPANS for f in kgtrace.SPAN_FIELDS]
    names += ["stage1.rows_in", "stage1.rows_out", "stage1.python_bytes",
              "fused.rows_out", "fused.python_bytes", "stage3.phrases",
              "stage3.entities", "runner.edges.rows_out",
              "stage4.bytes_written", "stage4.files_written",
              "stage4.bytes_per_new_tuple", "dedup.keep_policy.rows_out",
              "dedup.ngram_pairs.rows_out", "text.filter_policy_lm.rows_out",
              "trace.overhead_s", "trace.span_coverage"]
    return names


def per_layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field in kgtrace.SPAN_FIELDS:
        return kgtrace.SPAN_FIELDS[field][0]
    if "_us_per_" in field:
        return "us"
    if field.endswith("_s"):
        return "s"
    if "bytes" in field:
        return "B"
    if field == "span_coverage":
        return "frac"
    return "count"


def layer_metrics(events_dir: str, walls: dict, op_wall: float,
                  setup: dict) -> dict:
    """Per-layer table of the traced op: event-log totals per job group
    joined with the spans' driver walls. A write span's wall excludes the
    stage-4 lineage jobs it issued; those form the ``stage4`` span."""
    (log,) = os.listdir(events_dir)
    with open(os.path.join(events_dir, log)) as f:
        groups, split = kgtrace.reduce_event_log(f)
    walls = {name: w - split.get(name, 0.0) for name, w in walls.items()}
    if split:
        walls["stage4"] = groups["stage4"]["job_s"]
    inner = sum(w for name, w in walls.items() if name != "runner")
    if "runner" in walls:
        walls["runner"] = max(0.0, op_wall - inner)
    walls["session"] = setup["start_s"] + setup["warmup_s"]
    out = {"session.start_s": setup["start_s"],
           "session.warmup_s": setup["warmup_s"],
           "trace.span_coverage": inner / op_wall}
    for span, wall in walls.items():
        for field, value in kgtrace.span_metrics(
                groups.get(span), wall, CORES).items():
            out[f"{span}.{field}"] = value
    for span in ("stage1", "fused"):
        out[f"{span}.python_bytes"] = groups.get(span, {}).get("python_bytes", 0)
    return out


# -- run --------------------------------------------------------------------

def start_spark(events_dir: str | None):
    from scikg_spark.pipeline.session import get_spark

    conf = {}
    if events_dir is not None:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    return get_spark(app_name="kgbench", cores=CORES, extra_conf=conf)


def stop_spark(spark):
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload_cls, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[dict, dict]:
    phase = {}
    t0 = time.perf_counter()
    wl = workload_cls(work, seed)
    phase["gen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.reference()
    phase["reference_s"] = time.perf_counter() - t0

    events = os.path.join(work, "events") if trace else None
    if events:
        os.makedirs(events)
    sampler = RssSampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_spark(events)
    setup = {"start_s": time.perf_counter() - t0}
    sc = spark.sparkContext
    walls, rates, failures, warm = [], [], [], []
    attempted = 0
    check_s = 0.0
    layers = {}
    traced = None

    def attempt(label, tracer=None):
        """Issue one op and check its output. A raise or a failed check is
        a failed op. Returns (wall, rows, handle, ok), or None when the op
        raised; the caller releases the handle."""
        nonlocal attempted, check_s
        attempted += 1
        try:
            wall, rows, handle = wl.op(spark, attempted, tracer)
        except Exception as exc:
            failures.append(f"{label}: {type(exc).__name__}: {exc}")
            return None
        # the check's own jobs stay out of the session and op groups
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("check", "check")
        t1 = time.perf_counter()
        try:
            err = wl.check(handle)
        except Exception as exc:  # an output that cannot be read fails too
            err = f"check raised {type(exc).__name__}: {exc}"
        check_s += time.perf_counter() - t1
        sc.setJobGroup(group, group)
        if err:
            failures.append(f"{label}: {err}")
        return wall, rows, handle, not err

    try:
        sc.setJobGroup("session", "session")
        for _ in range(wl.warm_ops):
            done = attempt("warm-up op")
            if done:
                warm.append(done[0])
                wl.release(done[2])
        # warm-up outputs are checked too, but not on setup_s's clock
        setup["warmup_s"] = (time.perf_counter() - t0 - setup["start_s"]
                             - check_s)

        sc.setJobGroup("untraced", "untraced")
        t_run = time.perf_counter()
        measured = 0
        while measured == 0 or time.perf_counter() - t_run < seconds:
            measured += 1
            done = attempt("op")
            if done is None:
                continue
            # an op that completes is timed even when its check fails
            wall, rows, handle, _ = done
            walls.append(wall)
            rates.append(rows / wall)
            wl.release(handle)
        phase["check_s"] = check_s
        if not walls:
            raise RuntimeError(f"every op raised: {failures}")

        if trace:
            tracer = kgtrace.Tracer(sc)
            done = attempt("traced op", tracer)
            if done:
                traced, _, handle, ok = done
                if ok:
                    layers = wl.layer_counts(handle)
                    layers["trace.overhead_s"] = traced - statistics.median(walls)
                wl.release(handle)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phase["stop_s"] = time.perf_counter() - t0
        peak_mb = sampler.stop()
    if layers:
        layers.update(layer_metrics(events, tracer.walls, traced, setup))

    med, rate = statistics.median(walls), statistics.median(rates)
    t0 = time.perf_counter()
    calibration = calibrate()
    phase["calibrate_s"] = time.perf_counter() - t0
    detail = {
        "workload": wl.name, "seed": seed, "input_digest": wl.digest,
        "traffic": wl.props, "warmup_op_s": warm, "op_s": walls,
        "failures": failures, "phase_s": phase, **calibration,
        "peak_rss_mb_by_comm": sampler.by_comm,
    }
    if wl.name == "kg_build":
        detail.update(build_s=med, triples_per_s=rate)
    else:
        detail.update(curate_s=med, docs_per_s=rate, lm_digest=wl.lm_digest)
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures)}
    if trace:
        result["metrics"] = {k: {"value": layers.get(k, 0),
                                 "unit": per_layer_unit(k)}
                             for k in per_layer_names()}
    else:
        result["metrics"] = {
            "setup_s": {"value": setup["start_s"] + setup["warmup_s"],
                        "unit": "s"},
            "op_s": {"value": med, "unit": "s"},
            "rows_per_s": {"value": rate, "unit": "rows/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "scikg_spark", "__init__.py")):
        print(f"kgbench: no scikg_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".kgbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SCIKG_DRIVER_MEM": DRIVER_MEM, "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(work)
    try:
        detail, result = run(WORKLOADS[args.workload], args.seed,
                             args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
