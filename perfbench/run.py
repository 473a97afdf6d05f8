"""Layered benchmark of the span-extraction engine and its query battery.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 14 --trace 0

Workloads (see ``workloads.py``):

- ``extract``: ``run_extraction`` with lineage over a seeded 4,000-doc
  span fixture;
- ``waves``: twelve 250-doc waves of that fixture, each appended to an
  input table and consumed by ``run_extraction_incremental``, then a
  resume that must commit nothing;
- ``battery``: a fixed subset of the registered queries over the
  committed sf0.01 tables, each checked against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` is the time
from process start to warm (session, inputs on disk, a warm-up), and
each operation counts with its best pass; all times are wall time net
of CPU steal. ``--trace 1`` probes the pure
functions and the frameworkless control, then runs one pass of the
workload to warm up and three more: untraced, traced, untraced; the
tracing overhead is the traced pass minus the mean of the two around
it. It then probes the other workloads, writes the spans to
``perfbench/.traces/`` and prints the per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines above
it are the same metrics as a table, with the end-to-end ones again
under the workload's own names.

Load: one driver process at ``local[nproc]``, a closed loop with one
caller. The engine is imported from the checkout this file sits in.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import inputs  # noqa: E402
import spark_env  # noqa: E402

CPU0 = spark_env.cpu_jiffies()


def _units(trace: bool) -> dict:
    """Metric name -> unit, as ``BENCHMARK.json`` lists them."""
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def _setup(workload: str, seed: int, work: Path):
    """Session, inputs on disk and a warm-up; returns the session, the
    fixture (None for ``battery``) and a note on the input cache."""
    spark = spark_env.start_session()
    if workload == "battery":
        from zzzarchived_arxiv_fulltext_spark.queries import QUERIES
        from workloads import BATTERY

        for name in BATTERY:  # each query's first run compiles its code
            QUERIES[name](spark, str(inputs.BATTERY_TABLES)).collect()
        return spark, None, "inputs: the committed sf0.01 tables"
    from workloads import warm_extraction

    fixture, cached = inputs.span_fixture(seed)
    warm_extraction(spark, fixture, work / "warm", spark_env.cores())
    return spark, fixture, f"input cache {'warm' if cached else 'cold'}"


def _named(workload: str, outcome) -> list:
    """The untraced metrics again under the names a reader of this
    workload looks for, and the battery's total and p90 (14 queries: too
    few samples above a p90 to gate on it)."""
    m = outcome.metrics()
    rate, p50 = m["throughput_per_s"], m["op_p50_s"]
    if workload == "battery":
        p90 = statistics.quantiles(outcome.per_key(), n=10)[-1]
        return [("battery.query_p50_s", p50, "s"),
                (f"battery.query_p90_s(n={len(outcome.walls)})", p90, "s"),
                ("battery.total_s", outcome.pass_s(), "s")]
    if workload == "waves":
        return [("wave.p50_s", p50, "s"), ("waves.docs_per_s", rate, "1/s")]
    return [("extract.docs_per_s", rate, "1/s"),
            ("extract.run_extraction_p50_s", p50, "s")]


def _udf_profiled_s(spark, dump_dir: Path) -> dict:
    """Seconds ``spark.sql.pyspark.udf.profiler`` saw in each UDF."""
    import pstats

    spark.profile.dump(str(dump_dir), type="perf")
    return {p.stem: pstats.Stats(str(p)).total_tt
            for p in dump_dir.glob("*.pstats")}


def run(args, work: Path) -> tuple:
    from checks import Gate
    from layers import (control_pass, fixture_oracle, functions_pass,
                        sample_indices)
    from workloads import PASS_S, WORKLOADS, Ctx

    tracer = spark_env.Tracer(False, f"{args.workload}-s{args.seed}")
    spark, fixture, cache_note = _setup(args.workload, args.seed, work)
    setup_s = time.perf_counter() - T0
    busy, steal = (b - a for a, b in zip(CPU0, spark_env.cpu_jiffies()))
    steal_share = steal / (busy + steal) if busy + steal else 0.0
    setup_s *= 1 - steal_share  # net of CPU steal, as every timed call
    ctx = Ctx(spark=spark, seed=args.seed, nproc=spark_env.cores(),
              work=work, tracer=tracer, gate=Gate(), fixture=fixture,
              tables=inputs.BATTERY_TABLES)
    loop = WORKLOADS[args.workload]
    notes = [f"set-up {setup_s:.2f} s net of {steal_share:.1%} cpu steal, "
             f"{cache_note}"]

    if not args.trace:
        if fixture is not None:
            ctx.oracle = fixture_oracle(fixture, args.seed, ctx.nproc)
        passes = max(1, round(args.seconds / PASS_S[args.workload]))
        cpu0 = spark_env.cpu_jiffies()
        outcome = loop(ctx, passes)
        busy, steal = (b - a for a, b in zip(cpu0, spark_env.cpu_jiffies()))
        notes.append(f"cpu steal over the passes: "
                     f"{steal / max(busy + steal, 1):.1%} of the cpu time "
                     "asked for")
        notes.append("pass totals (s): " + ", ".join(
            f"{sum(w):.3f}" for w in zip(*outcome.walls.values())))
        notes.append(f"{len(outcome.walls)} operation keys x {passes} "
                     f"passes; per-key best (s): " + ", ".join(
                         f"{w:.3f}" for w in outcome.per_key()))
        return ({"setup_s": setup_s, **outcome.metrics()}, ctx.gate, notes,
                outcome)

    # traced run: the pure layers, the workload untraced and traced, then
    # the other workloads; every loop is a probe
    if ctx.fixture is None:
        ctx.fixture, _ = inputs.span_fixture(ctx.seed)
    tracer.enabled = True
    sample = sample_indices(args.seed)
    with tracer.span("functions.pass", docs=len(sample)):
        layer = functions_pass(sample, args.seed, tracer, True)
    with tracer.span("control.pool", nproc=ctx.nproc):
        ctx.control = control_pass(inputs.DOC_INDICES, args.seed, ctx.nproc)
    ctx.oracle = fixture_oracle(ctx.fixture, args.seed, ctx.nproc,
                                ctx.control[2])
    tracer.enabled = False
    loop(ctx, 1, probe=True)  # so that the passes compared start warm
    before = loop(ctx, 1, probe=True)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer.enabled = True
    ctx.counters = spark_env.Counters(spark)
    with tracer.span(f"workload.{args.workload}"):
        traced = loop(ctx, 1, probe=True)
    tracer.enabled = False
    counters, ctx.counters = ctx.counters, None
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    after = loop(ctx, 1, probe=True)
    per_udf = _udf_profiled_s(spark, work / "profile")
    layer["udf.profiled_s"] = sum(per_udf.values())
    notes.append("udf profiler (s): " + ", ".join(
        f"{udf} {s:.2f}" for udf, s in sorted(per_udf.items())))
    layer.update(traced.layer)
    tracer.enabled, ctx.counters = True, counters
    for name, other in WORKLOADS.items():
        if name != args.workload:
            with tracer.span(f"probe.{name}"):
                layer.update(other(ctx, 1, probe=True).layer)
    # rates in chars: the sample and the fixture differ in document sizes
    layer["extract.core_eff"] = layer.pop("span_extract.chars_per_s") / (
        ctx.nproc * layer.pop("functions.chars_per_s_1proc"))
    base_s = (before.pass_s() + after.pass_s()) / 2
    layer["trace.overhead_s"] = traced.pass_s() - base_s
    layer["trace.overhead_share"] = layer["trace.overhead_s"] / base_s
    layer["trace.spans"] = len(tracer.spans)
    notes.append(f"untraced, traced, untraced pass (s): {before.pass_s():.3f}"
                 f", {traced.pass_s():.3f}, {after.pass_s():.3f}")
    trace_file = HERE / ".traces" / f"{args.workload}-s{args.seed}.jsonl"
    tracer.write(trace_file)
    notes.append(f"spans written to {trace_file.relative_to(HERE.parent)}")
    return layer, ctx.gate, notes, None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "waves", "battery"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail fast, before any JVM starts, outside a full checkout
    import tools.check_oracles  # noqa: F401
    import zzzarchived_arxiv_fulltext_spark  # noqa: F401

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    spark_env.prepare(work)
    spark_env.adopt_orphans()

    try:
        metrics, gate, notes, outcome = run(args, work)
    finally:
        try:
            spark_env.shutdown()
        finally:
            spark_env.stop_children()
            shutil.rmtree(work, ignore_errors=True)

    units = _units(args.trace)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    for note in notes:
        print(f"# {note}")
    for cause in gate.causes:
        print(f"# FAILED {cause}")
    print(f"# {args.workload} seed={args.seed} failed_ratio="
          f"{gate.failed / max(gate.attempted, 1):.4f} "
          f"({gate.failed}/{gate.attempted})")
    rows = [(n, metrics[n], u) for n, u in units.items()]
    if not args.trace:
        rows += _named(args.workload, outcome)
    for name, value, unit in rows:
        print(f"{args.workload:8s} {name:40s} {value:>16.6g} {unit}")
    print(json.dumps({
        "correct": gate.failed == 0,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
