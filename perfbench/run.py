#!/usr/bin/env python3
"""Repository benchmark: headline queries and checkpointed KG build.

    python3 perfbench/run.py --workload headline|kg-checkpoint \
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, then runs fresh-JVM samples
(perfbench/sample.py) on local[nproc] for up to --seconds, checks every
output against perfbench/pins.json, prints a readable report and, as the
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything it writes stays under .perfbench/ in the checkout.  See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402

WORKLOADS = ("headline", "kg-checkpoint")
# inputs come in this many seeded variants (variant = seed % VARIANTS), each
# with pinned outputs in pins.json
VARIANTS = 16
HEADLINE_SF = 0.001
KG_CONCEPTS = 1000
SAMPLE_TIMEOUT_S = 150
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "repeat_pass_s": "s"}
# names the report uses for first/repeat pass on each workload
PASS_NAMES = {
    "headline": ("suite_cold_s", "suite_warm_s"),
    "kg-checkpoint": ("build_s", "resume_s"),
}
REQUIRED = ("__spark_entry__.py", "bench.py", "wikdict_gen_spark/__init__.py",
            "wikdict_gen_spark/pipeline.py")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of physical RAM (1g..8g): room for the Python workers, the
    page cache behind the shuffle files and the host's other tenants."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(8192, max(1024, phys_mb // 4))}m"


def host_calibration(threads: int) -> dict:
    """sha256 over a fixed buffer, one thread and then ``threads`` threads
    (hashlib releases the GIL); effective_cores near ``threads`` means the
    host gave the run its cores."""
    buf = b"\xab" * (1 << 20)

    def work() -> None:
        h = hashlib.sha256()
        for _ in range(128):
            h.update(buf)

    # the second round is reported: a first round in a fresh process often
    # runs its threads on one core while the host wakes the others
    for _ in range(2):
        t0 = time.monotonic()
        work()
        single = time.monotonic() - t0
        ts = [threading.Thread(target=work) for _ in range(threads)]
        t0 = time.monotonic()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        multi = time.monotonic() - t0
    return {"threads": threads, "sha256_single_s": round(single, 4),
            "sha256_multi_s": round(multi, 4),
            "effective_cores": round(threads * single / multi, 2)}


def make_inputs(workload: str, variant: int, run_dir: Path) -> str:
    if workload == "headline":
        return datagen.headline_tables(run_dir / "tables", seed=variant, sf=HEADLINE_SF)
    return datagen.kg_corpus(run_dir / "corpus", seed=variant, n_concepts=KG_CONCEPTS)


def sample_env(run_dir: Path, heap: str, cores: int) -> dict:
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def _end_group(pgid: int) -> None:
    """Kill whatever is left of a sample's process group and wait until
    none of it remains (the group's orphans are not our children)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        alive = False
        for stat in Path("/proc").glob("[0-9]*/stat"):
            try:
                fields = stat.read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def run_sample(args: dict, env: dict, log: Path) -> dict:
    """One fresh-process sample; raises RuntimeError when it dies or hangs."""
    with open(log, "w") as err:
        args = {**args, "launched": time.monotonic()}
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "sample.py"), json.dumps(args)],
            stdout=subprocess.PIPE, stderr=err, env=env, text=True,
            start_new_session=True, cwd=str(ROOT),
        )
        try:
            out, _ = proc.communicate(timeout=SAMPLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"sample timed out after {SAMPLE_TIMEOUT_S}s (log: {log})")
        finally:
            # the JVM and Python workers are in the sample's session; make sure
            # none outlives it
            _end_group(proc.pid)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_SAMPLE ")]
    if proc.returncode != 0 or not lines:
        tail = log.read_text()[-3000:]
        raise RuntimeError(f"sample exited with {proc.returncode}; stderr tail:\n{tail}")
    res = json.loads(lines[-1][len("PERFBENCH_SAMPLE "):])
    if res.get("incomplete"):
        raise RuntimeError(f"sample failed: {res.get('failures')} (log: {log})")
    return res


def median_metrics(samples: list[dict], names) -> dict:
    return {n: statistics.median(s[n] for s in samples) for n in names}


def untraced_history(records: Path, workload: str) -> list[dict]:
    if not records.exists():
        return []
    out = []
    for line in records.read_text().splitlines():
        rec = json.loads(line)
        if rec["workload"] == workload and not rec["trace"]:
            out.append(rec["metrics"])
    return out


def report(workload: str, seed: int, variant: int, samples: list[dict], metrics: dict,
           layers: dict, attempted: int, failures: list[str], calib: dict,
           overhead: dict | None) -> None:
    first, repeat = PASS_NAMES[workload]
    s0 = samples[0]
    print(f"perfbench {workload} seed={seed} variant={variant} samples={len(samples)}")
    print(f"  knobs: {json.dumps(s0['knobs'])}")
    print(f"  host_calibration: {json.dumps(calib)}")
    print(f"  {'setup_s':<22}{metrics['setup_s']:>12.3f} s")
    rss = statistics.median(s["peak_rss_mb"] for s in samples)
    print(f"  {'peak_rss_mb':<22}{rss:>12.1f} MB")
    print(f"  {first:<22}{metrics['first_pass_s']:>12.3f} s   (first_pass_s)")
    print(f"  {repeat:<22}{metrics['repeat_pass_s']:>12.3f} s   (repeat_pass_s)")
    if workload == "kg-checkpoint":
        tps = statistics.median(s["triples_per_s"] for s in samples)
        print(f"  {'triples_per_s':<22}{tps:>12.1f} 1/s  ({s0['triples']} kg_edges rows,"
              f" {s0['nodes']} kg_nodes rows)")
    else:
        for name, cold in s0["queries"]["cold"].items():
            warm = s0["queries"]["warm"].get(name, float("nan"))
            print(f"    {name:<24} cold {cold:8.3f} s   warm {warm:8.3f} s")
    print(f"  {'error_rate':<22}{len(failures) / max(attempted, 1):>12.4f}"
          f"     ({len(failures)} of {attempted} operations)")
    for f in failures:
        print(f"    FAILED {f}")
    for name in sorted(layers):
        print(f"  layer {name:<40}{layers[name]:>16.4f}")
    if overhead is not None:
        print("  tracing overhead (traced minus median of "
              f"{overhead['untraced_runs']} untraced runs in this checkout): "
              f"first_pass {overhead['first_pass_s']:+.3f} s, "
              f"repeat_pass {overhead['repeat_pass_s']:+.3f} s")
    elif layers:
        print("  tracing overhead: no untraced run recorded in this checkout yet")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})", file=sys.stderr)
        return 2
    from layers import PER_LAYER

    pins_all = json.loads((HERE / "pins.json").read_text())
    variant = args.seed % VARIANTS
    pins = pins_all.get(args.workload, {}).get(str(variant))

    work = ROOT / ".perfbench"
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = work / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    (work / "spans").mkdir(exist_ok=True)
    cores, heap = nproc(), driver_heap()
    try:
        inputs = make_inputs(args.workload, variant, run_dir)
        calib = host_calibration(cores)
        env = sample_env(run_dir, heap, cores)
        samples: list[dict] = []
        t_start = time.monotonic()
        while True:
            t0 = time.monotonic()
            workdir = run_dir / f"workdir-{len(samples)}"
            samples.append(run_sample({
                "workload": args.workload, "input": inputs, "workdir": str(workdir),
                "cores": cores, "trace": args.trace, "pins": pins,
                "spans_out": str(work / "spans" / f"{tag}-{len(samples)}.json"),
            }, env, run_dir / f"sample-{len(samples)}.log"))
            shutil.rmtree(workdir, ignore_errors=True)
            last = time.monotonic() - t0
            # start another sample only if it fits in the measuring window
            if time.monotonic() - t_start + last > args.seconds:
                break
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    attempted = sum(s["attempted"] for s in samples)
    failures = [f for s in samples for f in s["failures"]]
    e2e = median_metrics(samples, END_TO_END)
    layers: dict[str, float] = {}
    overhead = None
    records = work / "records.jsonl"
    if args.trace:
        layers = {n: 0.0 for n in PER_LAYER}
        layers.update(median_metrics([s["layers"] for s in samples], samples[0]["layers"]))
        layers["trace.first_pass_s"] = e2e["first_pass_s"]
        layers["trace.repeat_pass_s"] = e2e["repeat_pass_s"]
        hist = untraced_history(records, args.workload)
        if hist:
            overhead = {"untraced_runs": len(hist)}
            for n in ("first_pass_s", "repeat_pass_s"):
                overhead[n] = e2e[n] - statistics.median(h[n] for h in hist)
    report(args.workload, args.seed, variant, samples, e2e, layers, attempted,
           failures, calib, overhead)
    with open(records, "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "variant": variant,
            "trace": args.trace, "metrics": e2e, "layers": layers,
            "attempted": attempted, "failures": failures, "host_calibration": calib,
            "knobs": samples[0]["knobs"], "corpus_workers": datagen.KG_CORPUS_WORKERS,
            "samples": [{k: v for k, v in s.items() if k != "layers"} for s in samples],
        }) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {n: {"value": layers[n], "unit": PER_LAYER[n][0]} for n in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
