#!/usr/bin/env python3
"""Record the expected outputs of every input variant into pins.json.

    python3 perfbench/pin.py [--workload headline|kg-checkpoint]

Runs each variant's inputs through the same calls and the same checksum as
the benchmark, in one session, and merges [rows, digest] per output into
perfbench/pins.json.  Run it only at a commit whose outputs are known good
(scripts/verify_entry.py reports ALL OK): the pins are what every later
run is checked against.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import run


def child(workload: str, out: str) -> None:
    import sample

    spark = sample.session(run.nproc())
    pins: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(dir=run.ROOT / ".perfbench") as tmp:
        for v in range(run.VARIANTS):
            d = Path(tmp) / str(v)
            inputs = run.make_inputs(workload, v, d)
            if workload == "headline":
                pins[str(v)] = {name: sample.checksum(fn(spark, inputs))
                                for name, fn in sample.headline_queries().items()}
            else:
                from wikdict_gen_spark.pipeline import run_pipeline

                got = run_pipeline(spark, inputs, str(d / "workdir"), fused=False)
                pins[str(v)] = {n: sample.checksum(got[n]) for n in sample.KG_OUTPUTS}
            print(f"pinned {workload} variant {v}: {pins[str(v)]}", file=sys.stderr, flush=True)
    Path(out).write_text(json.dumps(pins))
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=run.WORKLOADS, action="append")
    ap.add_argument("--child", nargs=2, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(*args.child)
        return 0

    pins_path = run.HERE / "pins.json"
    pins = json.loads(pins_path.read_text()) if pins_path.exists() else {}
    work = run.ROOT / ".perfbench" / "pin"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = run.sample_env(work, run.driver_heap(), run.nproc())
    for workload in args.workload or run.WORKLOADS:
        out = work / f"{workload}.json"
        subprocess.run([sys.executable, __file__, "--child", workload, str(out)],
                       env=env, check=True, cwd=str(run.ROOT))
        pins[workload] = json.loads(out.read_text())
    pins_path.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
