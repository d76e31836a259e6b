"""layerbench: the repo's end-to-end and per-layer benchmark.

    python3 layerbench/run.py --workload mixed_spans --seed 1 --seconds 6 --trace 0

Workloads: mixed_spans, html_spans, pdf_files_ckpt (see DESIGN.md). Runs at
local[nproc] from one driver process as a closed loop: one pass at a time,
no other Spark job running.

--trace 0 (timed run): three rounds, each a fresh Spark session, input load
(generation the first time) and one untimed warm-up pass. The second and
third rounds then run timed passes for half of --seconds each; the first
round, which also starts the JVM, is not timed. Prints setup_s
(median of the three set-ups), docs_per_s (input docs over the median pass
wall time), peak_worker_rss_mb and failed_ratio.

--trace 1 (traced run): one session with the event log on, spans around
every public call, kernel stage wrappers on a one-core pass; prints the
per-layer metrics (ledger.py).

Every run checks the last pass's output (check.py) and exits non-zero when
any outcome is wrong. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mixed_spans", "html_spans", "pdf_files_ckpt")
ROUNDS = 3
END_TO_END = (("docs_per_s", "docs/s"), ("setup_s", "s"), ("peak_worker_rss_mb", "MB"))


def timed_run(wl, work: str, seconds: float) -> tuple[dict, dict, object]:
    from layerbench.check import Gate
    from layerbench.procmem import PeakSampler
    from layerbench.workload import start_session, stop_session

    out = os.path.join(work, "run", "out")
    warm_out = os.path.join(work, "run", "warm")
    setups, passes, peak_mb = [], [], 0.0
    for r in range(ROUNDS):
        t0 = time.perf_counter()
        spark = start_session(work)
        wl.prepare()
        wl.run_pass(spark, warm_out)  # untimed warm-up
        setups.append(time.perf_counter() - t0)
        # the first round starts a cold JVM: it sets up but is not timed
        round_end = time.perf_counter() + seconds / (ROUNDS - 1)
        while r:
            with PeakSampler() as sampler:
                t = time.perf_counter()
                wl.run_pass(spark, out)
                passes.append(time.perf_counter() - t)
            peak_mb = max(peak_mb, sampler.peak_mb)
            if time.perf_counter() >= round_end:
                break
        stop_session(spark, jvm=r == ROUNDS - 1)
    gate = Gate()
    info = wl.check(gate, out)
    metrics = {
        "docs_per_s": wl.n_docs / statistics.median(passes),
        "setup_s": statistics.median(setups),
        "peak_worker_rss_mb": peak_mb,
    }
    info.update(setups=[round(s, 3) for s in setups], passes=[round(p, 3) for p in passes])
    return metrics, info, gate


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "docling_parse_spark", "extract.py")):
        print(f"layerbench: no docling_parse_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # the package, not this script's directory, goes first on the path
    sys.path[0] = ROOT
    from layerbench.workload import isolate, make, ncpu

    work = os.path.join(ROOT, ".layerbench")
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    isolate(work)
    wl = make(args.workload, work, args.seed)
    if args.trace:
        from layerbench.ledger import PER_LAYER, TracedRun

        run = os.path.join(work, "run")
        metrics, info, gate = TracedRun(wl, work).run(os.path.join(run, "warm"),
                                                      os.path.join(run, "out"))
        units = dict(PER_LAYER)
    else:
        metrics, info, gate = timed_run(wl, work, args.seconds)
        units = dict(END_TO_END)

    n = wl.n_docs
    print(f"layerbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{ncpu()}] docs={n} input_digest={wl.inputs.digest}")
    for name, value in metrics.items():
        print(f"  {name:<28} {value:>14.4f} {units[name]}")
    print(f"  {'failed_ratio':<28} {gate.failed / n:>14.4f} ratio ({gate.failed} of {n})")
    for key, value in info.items():
        if key != "commits":
            print(f"  {key}: {value}")
    for note in gate.notes:
        print(f"  FAIL {note}")
    print(json.dumps({
        "correct": gate.failed == 0,
        "attempted": n,
        "failed": gate.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if gate.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
