"""One benchmark sample: a fresh Python process, hence a fresh driver JVM.

Invoked by run.py as ``python3 perfbench/sample.py '<json args>'``.  Drives
the program only through its public entry points (session.get_spark,
pipeline.run_pipeline, catalog.Catalog, __spark_entry__.queries()) and
prints one ``PERFBENCH_SAMPLE <json>`` line.  The same module holds the
output checksum that pin.py uses to record the expected results.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from spans import Tracer, clip, union_s  # noqa: E402

# kg-checkpoint stage -> the module that builds it
STAGE_LAYER = {
    "extracted": "extract", "records": "extract",
    "entry": "process", "form": "process", "translation_clean": "process",
    "importance": "process", "translation_base": "process",
    "translation": "process", "all_trans": "process",
    "backlink": "infer", "indirect": "infer", "infer": "infer",
    "infer_grouped": "infer",
    "translation_graded": "generic", "translation_grouped": "generic",
    "simple_translation": "generic",
    "alias_edges": "canonicalize", "canonical": "canonicalize",
    "kg_edges": "materialize", "kg_nodes": "materialize",
}
MODULE_LAYERS = ("process", "infer", "generic", "materialize")
KG_OUTPUTS = ("kg_edges", "kg_nodes")
RESUME_REPEATS = 3


# -- output checksum ----------------------------------------------------------
def _canon(col, dtype):
    """Column made comparable across runs: doubles to 7 significant digits
    (aggregation order may move the last bits), recursing into arrays and
    structs."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.6e", col)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col.getField(f.name), f.dataType).alias(f.name)
                          for f in dtype.fields])
    return col


def checksum(df: DataFrame) -> list:
    """[rows, order-independent digest] of every column of ``df``."""
    h = F.xxhash64(*[_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("s"),
        F.bit_xor("h").alias("x"),
    ).first()
    return [int(row["n"]), f"{row['s'] or 0:x}:{(row['x'] or 0) & (2**64 - 1):016x}"]


# -- session ------------------------------------------------------------------
def session(cores: int):
    from wikdict_gen_spark.session import get_spark

    spark = get_spark(parallelism=cores, app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def knobs(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "cores": spark.sparkContext.defaultParallelism,
        "driver_memory": conf.get("spark.driver.memory"),
        "driver_extraJavaOptions": conf.get("spark.driver.extraJavaOptions"),
        "local_dir": conf.get("spark.local.dir", None),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe_coalesce": spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
        "spark_version": spark.version,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Checker:
    """Counts operations and compares each result with its pinned value."""

    def __init__(self, pins: dict | None):
        self.pins = pins
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, key: str, got: list) -> None:
        """``got`` is [rows, digest], or [rows] for a count."""
        self.attempted += 1
        want = None if self.pins is None else self.pins.get(key)
        if want is None:
            self.failures.append(f"{key}: no pinned value")
        elif got != want[:len(got)]:
            self.failures.append(f"{key}: got {got}, pinned {want}")

    def finish(self, expected: int) -> None:
        while self.attempted < expected:
            self.attempted += 1
            self.failures.append("operation not reached")

    def fail(self, key: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failures.append(f"{key}: {type(exc).__name__}: {exc}")
        traceback.print_exc(file=sys.stderr)


# -- headline ------------------------------------------------------------------
def headline_queries() -> dict:
    import __spark_entry__ as entry
    import bench

    fns = {**entry.queries(), **bench.EXTRA_QUERIES}
    return {name: fns[name] for name in bench.HEADLINE}


def run_headline(spark, data: str, tracer: Tracer, checker: Checker) -> dict:
    """First-call pass, then the timed fresh-build pass.

    The first call of each query hashes every output column (a full result,
    checked against its pin) and doubles as the bench harness's warm-up
    call; the timed fresh build is then counted, as the harness times it,
    and its row count is checked."""
    queries = headline_queries()
    times: dict[str, dict[str, float]] = {"cold": {}, "warm": {}}
    for pass_, action in (("cold", checksum), ("warm", lambda df: [df.count()])):
        for name, fn in queries.items():
            t0 = time.monotonic()
            try:
                with tracer.span(f"query.{name}.{pass_}", "query", f"{pass_}:{name}"):
                    got = action(fn(spark, data))
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                checker.fail(f"{name}.{pass_}", exc)
                continue
            times[pass_][name] = time.monotonic() - t0
            checker.check(name, got)
    return {
        "first_pass_s": sum(times["cold"].values()),
        "repeat_pass_s": sum(times["warm"].values()),
        "queries": times,
    }


def headline_layers(tracer: Tracer, res: dict) -> dict:
    out: dict[str, float] = {}
    for name in headline_queries():
        out[f"query.{name}.cold_s"] = res["queries"]["cold"].get(name, 0.0)
        out[f"query.{name}.warm_s"] = res["queries"]["warm"].get(name, 0.0)
        jobs = tracer.group_jobs(lambda g, n=name: g == f"warm:{n}")
        out[f"query.{name}.shuffle_bytes"] = tracer.stage_sum(jobs, "shuffle_bytes")
    jobs = tracer.group_jobs(lambda g: g is not None and g.split(":")[0] in ("cold", "warm"))
    out["entry.task_cpu_s"] = tracer.stage_sum(jobs, "cpu_s")
    out["entry.gc_s"] = tracer.stage_sum(jobs, "gc_s")
    out["entry.spill_bytes"] = tracer.stage_sum(jobs, "spill_bytes")
    out["entry.python_run_s"] = tracer.python_sum(jobs, "python_run_s")
    return out


# -- kg-checkpoint ---------------------------------------------------------------
def install_catalog_spans(tracer: Tracer, pass_: str):
    """Wrap Catalog.ensure/write/read in spans; returns an undo function."""
    from wikdict_gen_spark.catalog import Catalog

    orig = {n: getattr(Catalog, n) for n in ("ensure", "write", "read")}

    def ensure(self, name, build, partition_by=None):
        layer = STAGE_LAYER.get(name, "pipeline")
        with tracer.span(f"stage.{name}", layer, f"{pass_[0]}:{name}"):
            return orig["ensure"](self, name, build, partition_by)

    def write(self, df, name, partition_by=None):
        with tracer.span(f"catalog.write.{name}", "catalog"):
            return orig["write"](self, df, name, partition_by)

    def read(self, name):
        with tracer.span(f"catalog.read.{name}", "catalog"):
            return orig["read"](self, name)

    Catalog.ensure, Catalog.write, Catalog.read = ensure, write, read

    def undo() -> None:
        for n, f in orig.items():
            setattr(Catalog, n, f)

    return undo


def run_kg(spark, pages: str, workdir: str, tracer: Tracer, checker: Checker) -> dict:
    """Checkpointed build, timed until kg_edges and kg_nodes are committed;
    then RESUME_REPEATS resume passes over the committed workdir, each
    reading both outputs back in full and checking them against their pins.
    A resume pass takes a few seconds, so its median is reported."""
    from wikdict_gen_spark.pipeline import run_pipeline

    res: dict = {}
    resumes: list[float] = []
    for i in range(1 + RESUME_REPEATS):
        pass_ = "build" if i == 0 else f"resume{i}"
        undo = install_catalog_spans(tracer, pass_) if tracer.enabled else (lambda: None)
        t0 = time.monotonic()
        try:
            with tracer.span(f"pipeline.{pass_}", "pipeline"):
                out = run_pipeline(spark, pages, workdir, fused=False)
            if i == 0:
                res["first_pass_s"] = time.monotonic() - t0
                continue
            sums = {}
            for name in KG_OUTPUTS:
                with tracer.span(f"read.{name}", "catalog", f"r:read:{name}:{i}"):
                    sums[name] = checksum(out[name])
            resumes.append(time.monotonic() - t0)
        finally:
            undo()
        for name in KG_OUTPUTS:
            checker.check(name, sums[name])
    res["repeat_pass_s"] = statistics.median(resumes)
    res["triples"], res["nodes"] = sums["kg_edges"][0], sums["kg_nodes"][0]
    res["triples_per_s"] = res["triples"] / res["first_pass_s"]
    return res


def kg_layers(tracer: Tracer, spark, workdir: str, cores: int) -> dict:
    from wikdict_gen_spark.catalog import Catalog

    committed = Catalog(spark, workdir).metrics()
    out: dict[str, float] = {}
    layers = ("extract",) + MODULE_LAYERS + ("canonicalize",)
    acc = {l: {"wall_s": 0.0, "jobs": [], "rows_out": 0.0, "spans": []} for l in layers}
    commit_s = read_s = 0.0
    for i, s in enumerate(tracer.spans):
        dur = s["end"] - s["start"]
        if s["name"].startswith("catalog.read."):
            read_s += dur
        if not s["name"].startswith("stage.") or not s["group"].startswith("b:"):
            continue
        stage = s["name"][len("stage."):]
        jobs = tracer.group_jobs(lambda g, grp=s["group"]: g == grp)
        catalog_s = 0.0
        for c in tracer.children(i):
            child = tracer.spans[c]
            if child["name"].startswith("catalog.write."):
                in_jobs = union_s(clip(tracer.job_intervals(jobs), child["start"], child["end"]))
                reads = sum(tracer.spans[g]["end"] - tracer.spans[g]["start"]
                            for g in tracer.children(c))
                w = child["end"] - child["start"]
                catalog_s += w - in_jobs
                commit_s += w - in_jobs - reads
        a = acc.get(s["layer"])
        if a is None:
            print(f"perfbench: stage {stage!r} has no layer mapping", file=sys.stderr)
            continue
        a["wall_s"] += dur - catalog_s
        a["jobs"] += jobs
        a["rows_out"] += committed.get(stage, {}).get("total_rows", 0)
        a["spans"].append((s["start"], s["end"]))
    for l in layers:
        a = acc[l]
        if l == "extract":
            out.update({
                "extract.wall_s": a["wall_s"],
                "extract.task_cpu_s": tracer.stage_sum(a["jobs"], "cpu_s"),
                "extract.python_run_s": tracer.python_sum(a["jobs"], "python_run_s"),
                "extract.python_start_s": tracer.python_sum(a["jobs"], "python_start_s"),
                "extract.python_bytes": tracer.python_sum(a["jobs"], "python_bytes"),
                "extract.rows_out": a["rows_out"],
            })
        elif l == "canonicalize":
            groups = {tracer.jobs[j]["group"] for j in a["jobs"]}
            others = tracer.group_jobs(lambda g: g not in groups)
            overlap = sum(union_s(clip(tracer.job_intervals(others), lo, hi)) for lo, hi in a["spans"])
            out.update({
                "canonicalize.wall_s": a["wall_s"],
                "canonicalize.jobs": float(len(a["jobs"])),
                "canonicalize.rows_out": a["rows_out"],
                "canonicalize.overlap_s": overlap,
            })
        else:
            out.update({
                f"{l}.wall_s": a["wall_s"],
                f"{l}.task_cpu_s": tracer.stage_sum(a["jobs"], "cpu_s"),
                f"{l}.gc_s": tracer.stage_sum(a["jobs"], "gc_s"),
                f"{l}.shuffle_bytes": tracer.stage_sum(a["jobs"], "shuffle_bytes"),
                f"{l}.spill_bytes": tracer.stage_sum(a["jobs"], "spill_bytes"),
                f"{l}.rows_out": a["rows_out"],
            })
    out["catalog.commit_s"] = commit_s
    out["catalog.read_s"] = read_s
    out["catalog.bytes_written"] = float(sum(
        p.stat().st_size for p in Path(workdir).rglob("*.parquet") if p.is_file()))
    build = next(s for s in tracer.spans if s["name"] == "pipeline.build")
    in_build = [j for j, rec in tracer.jobs.items()
                if rec["start"] is not None and build["start"] <= rec["start"] <= build["end"]]
    wall = build["end"] - build["start"]
    run_s = tracer.stage_sum(in_build, "run_s")
    out["pipeline.slot_busy_ratio"] = run_s / (cores * wall)
    out["pipeline.cpu_over_task_ratio"] = tracer.stage_sum(in_build, "cpu_s") / run_s if run_s else 0.0
    out["pipeline.driver_idle_s"] = wall - union_s(
        clip(tracer.job_intervals(in_build), build["start"], build["end"]))
    return out


# -- entry point -------------------------------------------------------------------
def main() -> None:
    args = json.loads(sys.argv[1])
    launched = args["launched"]
    workload, trace = args["workload"], bool(args["trace"])
    pins = args.get("pins")
    checker = Checker(pins)

    spark = session(args["cores"])
    jvm_start_s = time.monotonic() - launched
    # first scan: the workload's main input, as the bench harness warms it
    if workload == "headline":
        spark.read.parquet(f"{args['input']}/lineitem.parquet").count()
    else:
        spark.read.parquet(args["input"]).limit(1000).count()
    setup_s = time.monotonic() - launched
    tracer = Tracer(spark, trace)

    result: dict = {"setup_s": setup_s, "knobs": knobs(spark)}
    try:
        if workload == "headline":
            res = run_headline(spark, args["input"], tracer, checker)
        else:
            res = run_kg(spark, args["input"], args["workdir"], tracer, checker)
        result.update(res)
        result["peak_rss_mb"] = peak_rss_mb(spark)
        if trace:
            tracer.collect()
            layers = (headline_layers(tracer, res) if workload == "headline"
                      else kg_layers(tracer, spark, args["workdir"], args["cores"]))
            layers["session.jvm_start_s"] = jvm_start_s
            layers["session.peak_rss_mb"] = result["peak_rss_mb"]
            result["layers"] = layers
            tracer.dump(args["spans_out"])
    except Exception:  # noqa: BLE001 - reported as an incomplete sample
        traceback.print_exc(file=sys.stderr)
        result["incomplete"] = True
    finally:
        checker.finish(2 * len(headline_queries()) if workload == "headline"
                       else RESUME_REPEATS * len(KG_OUTPUTS))
        result["attempted"] = checker.attempted
        result["failures"] = checker.failures
        spark.stop()
        # end the gateway JVM here, so the parent's wait covers it
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
    print("PERFBENCH_SAMPLE " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
