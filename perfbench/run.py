"""datacheck-spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

Load shape: a closed loop — one client, the driver thread, runs ops back
to back in one local[4] Spark session. Workloads (``workloads.py``):

- ``flagship``: ``TranscriptChecker().run`` + ``structure_summary`` over
  the seeded table (the north-rule job);
- ``violations_store``: ``checkpoint.checkpointed_violations`` over the
  same table (the write path, 32 buckets in groups of 8).

A run generates its inputs from ``--seed`` (``gen.py``; not timed), then
sets up: imports the package, starts Spark, opens and verifies the
inputs and runs warm-up ops. Then it runs ops for ``--seconds`` and
checks every op's output.

``--trace 0`` prints the end-to-end metrics of untraced ops.
``--trace 1`` sets up with the Spark event log on, measures a few ops
untraced, installs spans on the package's entry points (``tracer.py``),
runs the workload's ops and the layer probes (``probes.py``) and prints
the per-layer metrics (``layers.py``); the spans and per-span Spark sums
go to ``.perfbench/trace/``.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Exit status is 0 when a result was printed, 2 when the checkout holds no
package to measure.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import inputs  # noqa: E402
import procstats  # noqa: E402
import session  # noqa: E402

#: table size of a run: ~110k turns in 8 files (~3 MB), so a warm flagship
#: op takes about 3 s on 4 cores and a run holds several warm ops within
#: its time budget
CONVS = 8_000
FILES = 8
MIN_OPS = 3
#: untraced and traced ops per traced run
TRACE_OPS = 3
N_APPENDS = 3
#: ops of the other workload in a traced run, after one warm-up op
PROBE_OPS = 1

#: Op wall time is not among them: on a shared VM it follows the host's
#: load (see README.md), so ``op_s_p50`` and ``turns_per_s`` are per-layer
#: metrics of the traced run.
E2E = [
    ("setup_s", "s"),
    ("cpu_s_per_mturn", "s"),
    ("peak_rss_mb", "MB"),
]


class Runner:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failures: list[str] = []
        #: CPU seconds the hypervisor took from this VM during each timed op
        self.steal: list[float] = []

    def record(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failures.append(f"{what}: {error}")

    def setup(self, table, recount, event_log=None):
        from workloads import WORKLOADS

        spark = session.spark_session(event_log)
        df = spark.read.parquet(str(table.path))
        got = {f.name for f in table.files}
        opened = {Path(p).name for p in df.inputFiles()}
        if opened != got:
            raise RuntimeError(f"opened files {sorted(opened)} != generated {sorted(got)}")
        if inputs.parquet_rows(table.files) != table.rows:
            raise RuntimeError("parquet footers disagree with the generated row count")
        wl = WORKLOADS[self.args.workload](spark, table, recount)
        return spark, wl

    def timed_ops(self, wl, n_min: int, seconds: float, span_op=None):
        """Runs at least ``n_min`` ops, and more while the next one, as long
        as the median op so far, would end within ``seconds``. Returns
        [(result dict, or the traceback of a raise; wall_s; cpu_s)]."""
        out = []
        t_end = time.perf_counter() + seconds
        i = 0
        while len(out) < n_min or (
            time.perf_counter() + statistics.median(w for _, w, _ in out) <= t_end
        ):
            cpu0 = procstats.tree_cpu_s()
            steal0 = procstats.host_steal_s()
            t0 = time.perf_counter()
            try:
                with span_op(i) if span_op else nullcontext():
                    res = wl.op(i)
            except Exception:  # an op that raises counts as failed
                res = traceback.format_exc()
            wall = time.perf_counter() - t0
            out.append((res, wall, procstats.tree_cpu_s() - cpu0))
            self.steal.append(procstats.host_steal_s() - steal0)
            i += 1
        return out

    def check(self, wl, ops) -> None:
        """Records each op: raised (its traceback) or its output check."""
        results = [r for r, _, _ in ops if isinstance(r, dict)]
        verdicts = iter(wl.check(results) if results else [])
        for i, (r, _, _) in enumerate(ops):
            self.record(f"op {i}", next(verdicts) if isinstance(r, dict) else r)

    # --- trace 0 -------------------------------------------------------

    def run_e2e(self, table, recount, t_setup: float) -> dict:
        spark, wl = self.setup(table, recount)
        for i in range(wl.WARMUP_OPS):
            wl.op(-1 - i)
        setup_s = time.perf_counter() - t_setup

        rss = procstats.RssSampler()
        rss.start()
        try:
            ops = self.timed_ops(wl, MIN_OPS, self.args.seconds)
        finally:
            rss.stop()
        self.check(wl, ops)
        session.stop(spark)
        print("op walls " + " ".join(f"{w:.2f}" for _, w, _ in ops), file=sys.stderr)
        print("op cpu " + " ".join(f"{c:.2f}" for _, _, c in ops), file=sys.stderr)
        print("op steal " + " ".join(f"{s:.2f}" for s in self.steal), file=sys.stderr)
        done = [(r, w, c) for r, w, c in ops if isinstance(r, dict)]
        if not done:
            raise RuntimeError("no op completed")
        values = {
            "setup_s": setup_s,
            "cpu_s_per_mturn": statistics.median(
                c / (wl.turns(r) / 1e6) for r, _, c in done
            ),
            "peak_rss_mb": rss.peak_mb,
        }
        return {k: {"value": values[k], "unit": unit} for k, unit in E2E}

    # --- trace 1 -------------------------------------------------------

    def run_traced(self, table, recount) -> dict:
        import eventlog
        import layers
        import probes
        import tracer as tr
        from workloads import WORKLOADS

        log_dir = session.WORK / "eventlog" / f"{self.args.workload}_s{self.args.seed}"
        shutil.rmtree(log_dir, ignore_errors=True)
        spark, wl = self.setup(table, recount, event_log=log_dir)
        for i in range(wl.WARMUP_OPS):
            wl.op(-1 - i)
        untraced = self.timed_ops(wl, TRACE_OPS, 0)
        self.check(wl, untraced)
        untraced = [(wl.turns(r), w) for r, w, _ in untraced if isinstance(r, dict)]

        t = tr.Tracer(spark.sparkContext)
        tr.wrap_package(t)

        def span_op(op):
            return t.span("op", op=op)

        try:
            own = WORKLOADS[self.args.workload](spark, table, recount, t.span)
            traced = self.timed_ops(own, TRACE_OPS, 0, span_op=span_op)
            self.check(own, traced)
            op_turns = {i: own.turns(r) for i, (r, _, _) in enumerate(traced) if isinstance(r, dict)}

            # layers the workload's own ops do not reach
            other = [n for n in WORKLOADS if n != self.args.workload]
            for name in other:
                probe = WORKLOADS[name](spark, table, recount, t.span)
                with span_op("warmup"):
                    probe.op(-1)
                runs = []
                for k in range(PROBE_OPS):
                    with span_op(f"probe:{name}"):
                        runs.append(probe.op(1000 + k))
                for k, err in enumerate(probe.check(runs)):
                    self.record(f"{name} probe {k}", err)

            with span_op("probe:rules"):
                failures = probes.rules_ablation(spark, table, t.span)
            incr = probes.IncrementalProbe(spark, table, N_APPENDS)
            with span_op("warmup"):
                incr.initial()
            for k in range(N_APPENDS):
                with span_op(f"probe:append{k}"):
                    err = incr.append(k)
                self.record(f"append {k}", err)
            manifest_bytes = incr.manifest_bytes()
        finally:
            t.unwrap_all()
            session.stop(spark)

        log = eventlog.load(log_dir)
        metrics, detail = layers.compute(
            t.spans,
            log,
            op_turns=op_turns,
            untraced=untraced,
            rule_failures=failures,
            manifest_bytes=manifest_bytes,
        )
        trace_file = session.work_dir("trace") / f"{self.args.workload}_s{self.args.seed}.json"
        trace_file.write_text(json.dumps({"metrics": metrics, **detail}, indent=1, default=str))
        units = {n: u for n, u, _ in layers.PER_LAYER}
        return {k: {"value": metrics[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--convs", type=int, default=CONVS,
                    help="table size in conversations (160000 = ROADMAP's flagship)")
    ap.add_argument("--files", type=int, default=FILES)
    args = ap.parse_args(argv)

    if not (session.ROOT / "datacheck_spark" / "__init__.py").is_file():
        print(f"no datacheck_spark package under {session.ROOT}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    table = inputs.table(args.seed, args.convs, args.files)
    recount = inputs.duckdb_recount(table)
    print(f"inputs {table.rows} turns in {len(table.files)} files, "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    t_setup = time.perf_counter()
    try:
        session.prepare_imports()
    except session.MissingProgram as e:
        print(e, file=sys.stderr)
        return 2

    r = Runner(args)
    metrics = (
        r.run_traced(table, recount) if args.trace
        else r.run_e2e(table, recount, t_setup)
    )
    for f in r.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
