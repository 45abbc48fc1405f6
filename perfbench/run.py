"""KG-build benchmark: one workload, one seed, one process, closed loop.

    python3 perfbench/run.py --workload pages_local --seed 1 --seconds 30 --trace 0

Runs from the root of a source checkout. It starts Spark at local[nproc],
makes the workload's inputs from the seed and computes the check oracle. The
timed phase is one checked build, the session's first. ``--trace 1`` instead
traces that build and reports per-layer metrics from its spans and from
Spark's event log. The last line of stdout is the JSON result; the lines
before it repeat every metric by name with its unit, plus a load record.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyspark
from pyspark import SparkContext
from pyspark.sql import functions as F

import checks
import eventlog
import host
import inputs
import kgbuild

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHECK_DATA = os.path.join(HERE, "checkdata.json")

# name -> (input kind, input size)
WORKLOADS = {
    "pages_local": ("pages", 400),
    "mentions_graph": ("mentions", 200),
}
# Input generation runs this often; setup_s takes the median, so that one
# slow generation does not move it.
GEN_REPEATS = 2
PROBE_CALLS = 2  # detect_communities calls in the determinism probe

LAYERS = (
    "triples.extract_fused", "triples.canonicalize", "triples.build",
    "resolution.entity_mapping", "resolution.apply_mapping", "similarity.edges",
    "communities.detect", "catalog.commit", "catalog.read",
)
PYTHON_LAYERS = ("triples.extract_fused", "similarity.edges", "communities.detect")
END_TO_END = {
    "build_s": "s", "docs_per_s": "1/s", "triples_per_s": "1/s",
    "build_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {"pages.generate.self_s": "s"}
    unit_of = {"self_s": "s", "cpu_s": "s", "gc_s": "s", "py_worker_s": "s",
               "task_skew": "ratio", "match_ratio": "ratio", "order_stable": "bool",
               "digest_repeats": "ratio"}
    for layer in LAYERS:
        names = ("self_s",) + eventlog.GENERIC + ("rows_out",)
        if layer in PYTHON_LAYERS:
            names += eventlog.PYTHON
        for n in names:
            units[f"{layer}.{n}"] = unit_of.get(n, "bytes" if n.endswith("bytes") else "count")
    for n, u in (
        ("resolution.entity_mapping.candidate_pairs", "count"),
        ("resolution.entity_mapping.matches", "count"),
        ("resolution.entity_mapping.match_ratio", "ratio"),
        ("communities.detect.communities", "count"),
        ("communities.detect.giant_lpa", "count"),
        ("communities.detect.digest_repeats", "ratio"),
        ("triples.canonicalize.order_stable", "bool"),
        ("catalog.commit.commits", "count"),
        ("catalog.commit.bytes", "bytes"),
        ("trace.wall_s", "s"),
        ("trace.unattributed_s", "s"),
    ):
        units[n] = u
    return units


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_spark(work: str, nproc: int, event_dir: str | None):
    from graphrag_mrkr_2_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers; wait for each."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = host.descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# one workload run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.kind, self.size = WORKLOADS[workload]
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_data = self._check_data()
        self.last_cpu_s = 0.0  # CPU seconds of the latest build
        self.cpu0 = host.cpu_seconds()
        self.event_dir = os.path.join(work, "events") if trace else None

    def _check_data(self) -> dict:
        """Recorded digests for this workload and seed, per build mode."""
        try:
            with open(CHECK_DATA) as f:
                data = json.load(f)
        except FileNotFoundError:
            return {}
        entry = data.get(self.workload, {}).get(str(self.seed))
        if not entry or entry.get("size") != self.size:
            return {}
        return {
            mode: {k: tuple(int(x) for x in v.split(":")) for k, v in t.items()}
            for mode, t in entry["tables"].items()
        }

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        if self.event_dir:
            os.makedirs(self.event_dir)
        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.nproc, self.event_dir)
        self.session_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss = host.PeakRss(self.jvm_pid)

        path = os.path.join(self.work, "input")
        self.gen_tracer = kgbuild.Tracer(self.spark, self.trace)
        gen_times = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            with self.gen_tracer.span("pages.generate"):
                if self.kind == "pages":
                    inputs.write_pages(self.spark, path, self.size, self.seed, self.nproc)
                else:
                    rows = inputs.mention_rows(self.size, self.seed)
                    inputs.write_mentions(self.spark, path, rows, self.nproc)
            gen_times.append(time.perf_counter() - t0)
        self.gen_s = statistics.median(gen_times)
        self.inputs = kgbuild.BuildInputs(
            self.kind, path, self.nproc, fingerprint=f"perfbench/{self.kind}/{self.seed}/{self.size}"
        )

        t0 = time.perf_counter()
        if self.kind == "pages":
            oracle = inputs.reference_triples(self.size, self.seed)
        else:
            oracle = checks.triples_from_mentions(rows)
        self.oracle_digest = checks.set_digest(oracle)
        self.oracle_s = time.perf_counter() - t0

        self.setup_s = self.session_s + self.gen_s

    # -- builds ---------------------------------------------------------------

    def build(self, traced: bool = False):
        """One checked build; returns (seconds, BuildOutput, tracer)."""
        tracer = kgbuild.Tracer(self.spark, traced)
        self.attempted += 1
        cpu0 = host.tree_cpu_seconds(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            out = kgbuild.KgBuild(self.spark, self.inputs, tracer).run()
        except Exception as exc:  # a failed build is counted, then the run stops
            self.failed += 1
            self.errors.append(f"build raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, None, tracer
        dt = time.perf_counter() - t0
        self.last_cpu_s = host.tree_cpu_seconds(self.jvm_pid) - cpu0
        errs = self.check(out, traced)
        print(f"perfbench: build {self.attempted} {dt:.3g} s wall, {self.last_cpu_s:.3g} s cpu",
              file=sys.stderr)
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        self.rss.sample()
        return dt, out, tracer

    def check(self, out, traced: bool) -> list[str]:
        """Triple set against the oracle; table digests against the recorded
        check data; communities by invariants over the build's own projected
        graph."""
        digests = out.digests()
        errs = []
        if digests.get("triples") != self.oracle_digest:
            errs.append(f"triple set digest {digests.get('triples')} != oracle {self.oracle_digest}")
        mode = "traced" if traced else "untraced"
        if mode in self.check_data:
            errs += checks.compare_digests(digests, self.check_data[mode], f"{mode} check data")
        self.digests = digests
        if "communities" not in out.frames:  # page builds stop before the graph layers
            return errs
        self.edges = kgbuild.projected_edges(out.frames["resolved_edges"])
        self.components = checks.components(self.edges)
        self.membership = kgbuild.membership_rows(out.frames["communities"])
        errs += checks.community_errors(self.membership, self.edges)
        return errs

    # -- timed phase -------------------------------------------------------

    def measure(self) -> dict:
        """The session's first build is the timed one (``build_s``): every
        run pays the same JIT, code generation and Python-worker start that
        a batch job pays."""
        build_s = self.build()[0]
        m = {
            "build_s": build_s,
            "docs_per_s": self.size / build_s,
            "triples_per_s": self.oracle_digest[0] / build_s,
            "build_cpu_s": self.last_cpu_s,
            "setup_s": self.setup_s,
            "peak_rss_mb": self.rss.mb(),
        }
        extra = {"session_s": self.session_s, "gen_s": self.gen_s, "oracle_s": self.oracle_s,
                 "jvm_rss_mb": self.rss.jvm_kb / 1024, "worker_rss_mb": self.rss.worker_kb / 1024}
        return {"metrics": m, "extra": extra}

    # -- traced run -----------------------------------------------------------

    def traced(self) -> dict:
        wall, out, tracer = self.build(traced=True)
        if out is None:
            return {"metrics": {}, "extra": {}}
        m: dict[str, float] = {}
        for sp in tracer.spans:
            key = f"{sp.layer}.self_s"
            m[key] = m.get(key, 0.0) + sp.self_s
        m["trace.wall_s"] = wall
        # the build layers' self times plus this add up to trace.wall_s
        m["trace.unattributed_s"] = wall - sum(sp.self_s for sp in tracer.spans)
        m["pages.generate.self_s"] = statistics.median(
            sp.self_s for sp in self.gen_tracer.spans
        )

        # The catalog layers run after the build, on its output tables, and
        # lie outside trace.wall_s. Only page builds call them.
        root = os.path.join(self.work, "catalog")
        rows = dict.fromkeys(LAYERS, 0)
        if self.kind == "pages":
            cat_tracer = kgbuild.Tracer(self.spark, True)
            m["catalog.commit.commits"] = kgbuild.commit_and_read(
                self.spark, out, cat_tracer, root, self.inputs.fingerprint
            )
            m["catalog.commit.bytes"] = kgbuild.dir_bytes(root)
            for sp in cat_tracer.spans:
                key = f"{sp.layer}.self_s"
                m[key] = m.get(key, 0.0) + sp.self_s
            rows["catalog.commit"] = rows["catalog.read"] = sum(
                self.digests[n][0] for n in out.frames
            )
        self.spark.sparkContext.setJobGroup("trace.probe", "trace.probe")

        for layer, names in out.layer_tables.items():
            rows[layer] += sum(self.digests[n][0] for n in names if n in self.digests)
        graph = "communities" in out.frames
        if graph:
            rows["communities.detect"] += len(self.membership)
        rows["triples.canonicalize"] = sum(df.count() for df in out.boundary.values())
        for layer, n in rows.items():
            m[f"{layer}.rows_out"] = n
        m["triples.canonicalize.order_stable"] = self.order_probe(out)
        if graph:
            m.update(self.er_counts(out))
            comp_edges: dict[str, int] = {}
            for u, _ in self.edges:
                r = self.components[u]
                comp_edges[r] = comp_edges.get(r, 0) + 1
            m["communities.detect.communities"] = len({c for _, c in self.membership})
            m["communities.detect.giant_lpa"] = sum(
                1 for n in comp_edges.values() if n > checks.GIANT_COMPONENT_EDGES
            )
            m["communities.detect.digest_repeats"] = self.community_probe(out)
        t0 = tracer.spans[0].start
        spans = [[sp.layer, round(sp.start - t0, 4), round(sp.end - t0, 4)] for sp in tracer.spans]
        return {"metrics": m, "extra": {"build spans (layer, start, end)": spans}}

    def er_counts(self, out) -> dict[str, float]:
        from graphrag_mrkr_2_spark.operators.resolution import candidate_pairs, score_pairs
        nodes = out.frames["nodes"]
        cands = candidate_pairs(nodes, "entity_id", "name", **kgbuild.ER_ARGS).localCheckpoint(
            eager=True
        )
        n_c = cands.count()
        n_m = score_pairs(cands, nodes, "entity_id", "name", kgbuild.ER_ARGS["n"]).where(
            F.col("jaccard") >= kgbuild.ER_THRESHOLD
        ).count()
        return {
            "resolution.entity_mapping.candidate_pairs": n_c,
            "resolution.entity_mapping.matches": n_m,
            "resolution.entity_mapping.match_ratio": n_m / n_c if n_c else 0.0,
        }

    def community_probe(self, out) -> float:
        """Share of repeated detect_communities calls on one pinned edge table
        whose membership equals the first call's (1.0 = deterministic)."""
        from graphrag_mrkr_2_spark.operators.communities import (
            detect_communities,
            normalize_edge_weights,
            project_edges,
        )

        graph = project_edges(
            normalize_edge_weights(kgbuild.community_graph(out.frames["resolved_edges"]))
        ).localCheckpoint(eager=True)
        first = kgbuild.table_digest(detect_communities(graph))
        repeats = [
            kgbuild.table_digest(detect_communities(graph)) for _ in range(PROBE_CALLS - 1)
        ]
        return sum(r == first for r in repeats) / len(repeats)

    def order_probe(self, out) -> float:
        """1.0 if nodes built from the mentions and from the same mentions in
        another order are identical."""
        from graphrag_mrkr_2_spark.config import DEFAULT_CONFIG
        from graphrag_mrkr_2_spark.operators.triples import build_nodes, canonicalize

        ex = DEFAULT_CONFIG.extraction
        mentions = out.frames.get("mentions")
        if mentions is None:  # mentions_graph: the input is the mention table
            mentions = self.spark.read.parquet(self.inputs.path)

        def node_digest(df):
            ents, _ = canonicalize(df, ex.importance_score_threshold, ex.strength_threshold)
            return kgbuild.table_digest(build_nodes(ents))

        reordered = mentions.orderBy(F.xxhash64(*mentions.columns).desc())
        return float(node_digest(reordered) == node_digest(mentions))

    # -- report -----------------------------------------------------------------

    def load_record(self) -> dict:
        busy0, steal0 = self.cpu0
        busy1, steal1 = host.cpu_seconds()
        return {
            "busy_core_s": round(busy1 - busy0, 2),
            "steal_core_s": round(steal1 - steal0, 2),
            "nproc": self.nproc,
            "master": f"local[{self.nproc}]",
            "spark": pyspark.__version__,
        }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-check-data", action="store_true",
                   help="record this run's table digests as check data for its seed")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphrag_mrkr_2_spark")):
        print(f"perfbench: no graphrag_mrkr_2_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        try:
            run.setup()
            if run.errors:
                result = {"metrics": {}, "extra": {}}
            elif args.trace:
                result = run.traced()
            else:
                result = run.measure()
        finally:
            if hasattr(run, "spark"):
                stop_spark(run.spark)
        if args.trace and result["metrics"]:
            add_event_log_metrics(run.event_dir, result["metrics"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    units = per_layer_units() if args.trace else END_TO_END
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace}")
    for k, v in result["metrics"].items():
        print(f"  {k} {v:.6g} {units[k]}")
    for k, v in result.get("extra", {}).items():
        print(f"  ({k} {v})")
    print(f"  (failed_ops_frac {run.failed / max(run.attempted, 1):.6g} of {run.attempted} builds)")
    for e in run.errors[:20]:
        print(f"  check failed: {e}")
    print("perfbench-load " + json.dumps(run.load_record()))
    if args.write_check_data and not run.errors:
        mode = "traced" if args.trace else "untraced"
        write_check_data(args.workload, args.seed, run.size, mode, run.digests)
    ok = not run.errors and run.failed == 0 and bool(result["metrics"])
    print(json.dumps({
        "correct": ok,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


def add_event_log_metrics(event_dir: str, metrics: dict) -> None:
    """Fill every per-layer metric the spans did not give from Spark's event
    log (0 for a layer that ran no job), in BENCHMARK.json order."""
    (log,) = os.listdir(event_dir)
    spark_m = eventlog.layer_metrics(eventlog.read_events(os.path.join(event_dir, log)))
    units = per_layer_units()
    for name in units:
        layer, _, metric = name.rpartition(".")
        metrics.setdefault(name, spark_m.get(layer, {}).get(metric, 0.0))
    ordered = {k: metrics[k] for k in units}
    metrics.clear()
    metrics.update(ordered)


def write_check_data(workload: str, seed: int, size: int, mode: str, digests: dict) -> None:
    """Digests are stored as "rows:hash-sum" strings, one line per table."""
    try:
        with open(CHECK_DATA) as f:
            data = json.load(f)
    except FileNotFoundError:
        data = {}
    entry = data.setdefault(workload, {}).setdefault(str(seed), {"size": size, "tables": {}})
    if entry["size"] != size:
        entry.update(size=size, tables={})
    entry["tables"][mode] = {k: f"{n}:{h}" for k, (n, h) in sorted(digests.items())}
    with open(CHECK_DATA, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
