"""Knowledge-graph build benchmark: one workload, one seed, one run.

    python3 kgbench/run.py --workload entity_dense --seed 1 --seconds 30 --trace 0

Run from the repository root.  The run generates its pages from the
seed, starts one ``local[nproc]`` session, builds the graph once cold
(set-up), checks the result against the Python oracle, then rebuilds
back to back for ``--seconds`` and checks every rebuild's fingerprint.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead
times each layer call separately and prints the per-layer metrics (see
SPEC.md).  The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a JSON report of inputs, session config and checks.  The
exit code is 0 only when every check passed.

Everything the run writes goes under ``.kgbench/`` in the repository
root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kgbench import gen, spans  # noqa: E402

TABLES = ("triples", "nodes", "edges")

# pipeline_full's hygiene pass, one clean_pages option per pass in
# clean_pages' order (the eval set is added per run)
CLEAN_PASSES = (
    ("urlnorm", {"canonical_urls": True}),
    ("dedup", {"exact_dedup": True}),
    ("repetition", {"repetition": True}),
    ("boilerplate", {"boilerplate_min_df": 3}),
    ("decontam", {"decontam_n": 8}),
)
CRAWL_CLEAN = {k: v for _, kw in CLEAN_PASSES for k, v in kw.items()}
LINEAGE_CLEAN = {"exact_dedup": True, "repetition": False, "boilerplate_min_df": 3}
LINEAGE_STAGES = ("clean_pages", "mentions", "scored_pairs", "canon", "nodes", "edges")

WORKLOADS = ("crawl_hygiene", "entity_dense")

END_TO_END = {
    "build_s": "s",
    "triples_per_s": "triples/s",
    "setup_s": "s",
}

# spans whose Spark task metrics are reported (spans no ROADMAP
# direction targets are left out to stay within 128 metrics)
TASK_SPANS = (
    "clean.dedup", "clean.boilerplate", "clean.decontam", "tagging", "triples",
    "linking.vocab", "linking.lsh_verify", "linking.cc", "linking.membership",
    "materialize.nodes", "materialize.edges", "materialize.write",
    "lineage.fresh", "lineage.resume",
)


def _per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "session.peak_rss_mb": "MB"}
    for name, _ in CLEAN_PASSES:
        u[f"clean.{name}.s"] = "s"
        u[f"clean.{name}.dropped"] = "count"
    u.update({
        "tagging.s": "s", "tagging.arrow_floor_s": "s",
        "tagging.pages_in": "count", "tagging.mentions_out": "count",
        "triples.s": "s", "triples.pairs": "count", "triples.out": "count",
        "linking.vocab.s": "s", "linking.lsh_verify.s": "s", "linking.cc.s": "s",
        "linking.membership.s": "s", "linking.surfaces": "count",
        "linking.candidates": "count", "linking.verified": "count",
        "linking.verify_yield": "ratio", "linking.components": "count",
        "linking.largest_component_share": "ratio",
        "materialize.nodes.s": "s", "materialize.edges.s": "s", "materialize.write.s": "s",
        "materialize.nodes": "count", "materialize.edges": "count",
        "materialize.bytes_written": "bytes",
        "lineage.fresh.s": "s", "lineage.resume.s": "s",
    })
    for st in LINEAGE_STAGES:
        u[f"lineage.{st}.bytes"] = "bytes"
        u[f"lineage.{st}.files"] = "count"
    u["lineage.stored_bytes_per_input_byte"] = "ratio"
    u.update({"trace.build_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s"})
    for sp in TASK_SPANS:
        for m, unit in spans.TASK_METRICS.items():
            u[f"{sp}.{m}"] = unit
    return u


PER_LAYER = _per_layer_units()


def _confine(work: Path, trace: bool) -> dict[str, str]:
    """Point every scratch path of Python and Spark under ``work``; returns
    the extra session conf."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = work / "events"
        events.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": events.as_uri(),
        })
    return conf


def _peak_rss_mb(spark) -> float:
    """Spark JVM's VmHWM plus this Python process's ru_maxrss."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _steal_s() -> float:
    """CPU seconds the host took from this VM since boot (all CPUs);
    the report gives the difference over the run, so that a run slowed
    by a noisy neighbour can be told apart from a slow program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _dir_size(p: Path) -> tuple[int, int]:
    files = [f for f in p.rglob("*") if f.is_file()]
    return sum(f.stat().st_size for f in files), len(files)


class Run:
    """One workload's inputs and session, with its build and checks."""

    def __init__(self, workload: str, seed: int, work: Path, extra_conf: dict):
        from kgce import schemas
        from kgce.session import get_spark

        t = time.perf_counter()
        self.pdf, ev, self.props = gen.GENERATORS[workload](seed)
        self.gen_s = time.perf_counter() - t
        self.workload = workload
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.spark = get_spark("kgbench", cores=self.cores, extra_conf=extra_conf)
        self.session_s = time.perf_counter() - t
        self.pages = self.spark.createDataFrame(self.pdf, schema=schemas.PAGES)
        self.eval_docs = None if ev is None else self.spark.createDataFrame(ev)
        self.clean = (
            {**CRAWL_CLEAN, "eval_docs": self.eval_docs}
            if workload == "crawl_hygiene"
            else None
        )

    def session_conf(self) -> dict:
        get = self.spark.conf.get
        return {
            "master": self.spark.sparkContext.master,
            "cores": self.cores,
            "shuffle_partitions": get("spark.sql.shuffle.partitions"),
            "driver_memory": get("spark.driver.memory"),
            "aqe": get("spark.sql.adaptive.enabled"),
            "arrow_batch": get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        }

    def build(self):
        """``pipeline.run`` on the pages, materialized: returns the
        fingerprint of each output table, and the tables."""
        from kgce import pipeline

        from kgbench.check import fingerprints

        out = pipeline.run(self.pages, clean=self.clean)
        return fingerprints({k: out[k] for k in TABLES}), out

    def gate(self, out) -> tuple[dict, list[str]]:
        """Oracle P/R of the built edges over the pages that reached
        tagging, and, when a clean pass ran, those pages against the
        generator's expected survivors."""
        from kgce import pipeline

        from kgbench import check

        if self.clean is None:
            kept = list(zip(self.pdf["url"], self.pdf["text"]))
        else:
            kept = [
                (r.url, r.text)
                for r in pipeline.clean_pages(self.pages, **self.clean)
                .select("url", "text")
                .collect()
            ]
        p, r, n_built, n_oracle = check.triple_pr(out["edges"], [t for _, t in kept])
        errs = []
        if not n_oracle:
            errs.append("the oracle finds no triples in the pages that reached tagging")
        if p < 0.95 or r < 0.95:
            errs.append(f"triple precision {p:.4f} / recall {r:.4f} below 0.95")
        errs += check.node_errors(out["nodes"], out["mentions"])
        if self.clean is not None:
            errs += check.hygiene_errors([u for u, _ in kept], self.props["_survivors"])
        info = {"precision": p, "recall": r, "built_triples": n_built,
                "oracle_triples": n_oracle, "pages_tagged": len(kept)}
        return info, errs


def _settle(spark) -> None:
    """Collect garbage on both sides between builds, so that each timed
    build starts from the same state: the previous build's DataFrames and
    local-checkpoint blocks are released, and no collection of its garbage
    lands inside the next build."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _timed_builds(run: Run, want: dict, seconds: float):
    """Back-to-back builds for about ``seconds`` of wall time.  The first
    is a warm-up: the JIT is still compiling the plans' hot code, so it is
    checked but not timed.  At least one build is timed; after it, a build
    starts only if the median timed build still fits.  Returns (times of correct timed builds,
    attempted, failed, builds whose loose columns changed)."""
    from kgbench.check import same

    times, attempted, failed, flips = [], 0, 0, 0
    start = time.perf_counter()
    warm = None
    while (
        warm is None
        or (not times and not failed)
        or time.perf_counter() - start + statistics.median(times or [warm]) <= seconds
    ):
        _settle(run.spark)
        attempted += 1
        t = time.perf_counter()
        try:
            got, _ = run.build()
        except Exception:
            traceback.print_exc()
            got = None
        dt = time.perf_counter() - t
        if got is not None and same(got, want):
            flips += got != want
            if warm is None:
                warm = dt
            else:
                times.append(dt)
        else:
            failed += 1
            warm = dt if warm is None else warm
            print(f"build {attempted}: fingerprint {got} != {want}", file=sys.stderr)
    return times, attempted, failed, flips


def end_to_end(run: Run, seconds: float):
    t = time.perf_counter()
    want, out = run.build()
    cold_s = time.perf_counter() - t
    setup_s = run.session_s + cold_s
    gate, errs = run.gate(out)
    times, attempted, failed, flips = _timed_builds(run, want, seconds)
    attempted += 1
    failed += bool(errs)
    build_s = statistics.median(times) if times else None
    metrics = {
        "build_s": build_s,
        "triples_per_s": want["triples"][0] / build_s if times else None,
        "setup_s": setup_s,
    }
    report = {
        "gate": gate, "errors": errs, "fingerprints": want,
        "session_s": run.session_s, "cold_build_s": cold_s,
        "build_times_s": times, "fail_frac": failed / attempted,
        "peak_rss_mb": _peak_rss_mb(run.spark),
        "loose_column_changes": flips,
    }
    return metrics, report, attempted, failed


# ---------------------------------------------------------------- tracing


def _forced(keep: list):
    """Persist a layer's output and force it with a noop write, so the
    next layer gets materialized input."""

    def force(df):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        keep.append(df)
        return df

    return force


@contextmanager
def _linking_spans(tr, force, seen: dict):
    """Open a span around each call ``linking.canonicalize`` makes into
    the linking module's public functions, and force each output."""
    from kgce.operators import linking

    span_of = {
        "minhash_signatures": "linking.vocab",  # entity_vocab is its lazy input
        "verified_pairs": "linking.lsh_verify",
        "connected_components": "linking.cc",
    }
    orig = {fn: getattr(linking, fn) for fn in span_of}

    def wrap(fn, name):
        def call(*a, **kw):
            with tr.span(name):
                seen[name] = force(fn(*a, **kw))
            return seen[name]

        return call

    for fn, name in span_of.items():
        setattr(linking, fn, wrap(orig[fn], name))
    try:
        yield
    finally:
        for fn, f in orig.items():
            setattr(linking, fn, f)


def _identity(batches):
    yield from batches


def traced(run: Run):
    from pyspark.sql import functions as F

    from kgce import pipeline, tagging
    from kgce.operators import linking
    from kgce.plans import materialize

    from kgbench import check

    t = time.perf_counter()
    want, out = run.build()
    cold_s = time.perf_counter() - t
    gate, errs = run.gate(out)
    t = time.perf_counter()
    got, _ = run.build()
    build_s = time.perf_counter() - t
    if not check.same(got, want):
        errs.append("warm build fingerprint differs from the cold build")

    tr = spans.Tracer(run.spark.sparkContext)
    keep: list = []
    force = _forced(keep)
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = run.session_s

    # the build, one layer call at a time
    tr.run = "build"
    frames = {}
    cur = run.pages
    if run.clean is not None:
        for name, kw in CLEAN_PASSES:
            if name == "decontam":
                kw = {**kw, "eval_docs": run.eval_docs}
            with tr.span(f"clean.{name}"):
                nxt = force(pipeline.clean_pages(
                    cur, **{"exact_dedup": False, "repetition": False, **kw}))
            frames[name] = (cur, nxt)
            cur = nxt
    else:
        cur = force(cur)
    with tr.span("tagging"):
        mentions = force(tagging.extract_mentions(cur))
    seen: dict = {}
    with tr.span("linking"), _linking_spans(tr, force, seen):
        canon = force(linking.canonicalize(mentions))
    with tr.span("triples"):
        trips = force(pipeline.canonical_triples(mentions, canon=canon))
    with tr.span("materialize.nodes"):
        nodes = force(materialize.build_nodes(canon, mentions))
    with tr.span("materialize.edges"):
        edges = force(materialize.build_edges(trips))
    wall, top = tr.window("build")
    traced_fp = check.fingerprints({"triples": trips, "nodes": nodes, "edges": edges})
    if not check.same(traced_fp, want):
        errs.append(f"layer-by-layer build differs from pipeline.run: {traced_fp} != {want}")

    tr.run = "floor"
    with tr.span("tagging.arrow_floor"):
        cur.select("url", "text").mapInPandas(_identity, "url string, text string") \
            .write.format("noop").mode("overwrite").save()

    # counts at the layer boundaries, outside the timed window
    for name, (a, b) in frames.items():
        m[f"clean.{name}.dropped"] = a.count() - b.count()
    m["tagging.pages_in"] = cur.count()
    m["tagging.mentions_out"] = mentions.count()
    per_sent = mentions.groupBy("url", "sent_id").count()
    m["triples.pairs"] = per_sent.agg(
        F.coalesce(F.sum(F.col("count") * (F.col("count") - 1) / 2), F.lit(0))
    ).first()[0]
    m["triples.out"] = trips.count()
    m["linking.surfaces"] = seen["linking.vocab"].count()
    m["linking.candidates"] = linking.candidate_pairs_lsh(seen["linking.vocab"]).count()
    m["linking.verified"] = seen["linking.lsh_verify"].count()
    m["linking.verify_yield"] = (
        m["linking.verified"] / m["linking.candidates"] if m["linking.candidates"] else 1.0
    )
    sizes = canon.groupBy("canonical_id").count()
    n_comp, biggest = sizes.agg(F.count(F.lit(1)), F.max("count")).first()
    m["linking.components"] = n_comp
    m["linking.largest_component_share"] = biggest / canon.count()
    m["materialize.nodes"] = nodes.count()
    m["materialize.edges"] = edges.count()

    if run.workload == "entity_dense":
        _lineage(run, tr, m, errs, nodes, edges)

    selft = tr.self_times()
    for name, _ in CLEAN_PASSES:
        m[f"clean.{name}.s"] = selft.get(f"clean.{name}", 0.0)
    m["tagging.s"] = selft["tagging"]
    m["tagging.arrow_floor_s"] = selft["tagging.arrow_floor"]
    m["triples.s"] = selft["triples"]
    m["linking.vocab.s"] = selft["linking.vocab"]
    m["linking.lsh_verify.s"] = selft["linking.lsh_verify"]
    m["linking.cc.s"] = selft["linking.cc"]
    m["linking.membership.s"] = selft["linking"]
    for k in ("nodes", "edges", "write"):
        m[f"materialize.{k}.s"] = selft.get(f"materialize.{k}", 0.0)
    m["lineage.fresh.s"] = selft.get("lineage.fresh", 0.0)
    m["lineage.resume.s"] = selft.get("lineage.resume", 0.0)
    m["trace.build_s"] = wall
    m["trace.unattributed_s"] = wall - top
    m["trace.overhead_s"] = wall - build_s

    m["session.peak_rss_mb"] = _peak_rss_mb(run.spark)
    for df in keep:
        df.unpersist()
    events = run.work / "events"
    run.spark.stop()
    tasks = spans.read_event_log(events)
    tasks["linking.membership"] = tasks.pop("linking", {})
    for sp in TASK_SPANS:
        for k in spans.TASK_METRICS:
            m[f"{sp}.{k}"] = tasks.get(sp, {}).get(k, 0.0)
    report = {
        "gate": gate, "errors": errs, "fingerprints": want,
        "cold_build_s": cold_s, "untraced_build_s": build_s,
        "loose_column_changes": int(traced_fp != want),
        "spans": [s.__dict__ for s in tr.spans],
    }
    return m, report, 1, int(bool(errs))


def _lineage(run: Run, tr, m: dict, errs: list, nodes, edges) -> None:
    """``run_checkpointed`` fresh and resumed, seen from outside, and the
    materialized tables written once."""
    from kgce import pipeline
    from kgce.plans import materialize

    from kgbench.check import fingerprint

    wd = run.work / "lineage"
    tr.run = "lineage"
    with tr.span("lineage.fresh"):
        fresh = pipeline.run_checkpointed(run.pages, str(wd), clean=LINEAGE_CLEAN)
    fresh_fp = fingerprint(fresh["edges"])[:2]
    for st in LINEAGE_STAGES:
        b, n = _dir_size(wd / st)
        m[f"lineage.{st}.bytes"], m[f"lineage.{st}.files"] = b, n
    total = _dir_size(wd)[0]
    m["lineage.stored_bytes_per_input_byte"] = total / run.props["text_bytes"]
    with tr.span("lineage.resume"):
        resumed = pipeline.run_checkpointed(run.pages, str(wd), clean=LINEAGE_CLEAN)
    resumed_fp = fingerprint(resumed["edges"])[:2]
    ref = fingerprint(pipeline.run(run.pages, clean=LINEAGE_CLEAN)["edges"])[:2]
    if not fresh_fp == resumed_fp == ref:
        errs.append(f"run_checkpointed edges {fresh_fp}/{resumed_fp} != pipeline.run {ref}")

    out = run.work / "written"
    tr.run = "write"
    with tr.span("materialize.write"):
        materialize.write_nodes(nodes, str(out))
        materialize.write_edges(edges, str(out))
    m["materialize.bytes_written"] = _dir_size(out)[0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import kgce  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the kgce package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    steal0 = _steal_s()
    work = ROOT / ".kgbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    run = None
    try:
        run = Run(args.workload, args.seed, work, _confine(work, bool(args.trace)))
        conf = run.session_conf()
        if args.trace:
            values, report, attempted, failed = traced(run)
            units = PER_LAYER
        else:
            values, report, attempted, failed = end_to_end(run, args.seconds)
            units = END_TO_END
    finally:
        if run is not None:
            _shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.exists() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    inputs = {k: v for k, v in run.props.items() if not k.startswith("_")}
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "inputs": inputs, "gen_s": run.gen_s,
              "session": conf, "host_steal_s": _steal_s() - steal0, **report}
    print(json.dumps({"report": report}, default=str))
    correct = failed == 0 and not report["errors"]
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
