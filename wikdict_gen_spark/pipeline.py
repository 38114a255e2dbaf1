"""End-to-end KG-construction pipeline: pages -> kg.nodes + kg.edges.

The DAG is one ordered table (`_stages`) run by one loop (`run_pipeline`);
every non-view stage is one committed snapshot, resumable via Catalog.
Stages in build order (main data flow; `_stages` lists every input):

    pages → extracted → records → raw_*            (seven lazy views)
    raw_* → entry → alias_edges → canonical        (fused: CC on a side thread)
    raw_* → form
    raw_* → translation_clean → importance → translation_base → translation
          → all_trans → backlink → indirect → infer
    infer → infer_grouped → translation_graded → translation_grouped
    infer, importance → simple_translation
    infer, entry, form, raw_* → kg_edges
    entry, importance, canonical → kg_nodes

Kill the driver after any stage and re-run: committed stages are read
back on first use (by an uncommitted consumer or the caller), nothing is
recomputed, and the final snapshot is identical (tested).  The pages scan
and the raw_* views are likewise derived only when read, so resuming a
fully committed workdir opens nothing and starts no Spark job.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator, Mapping
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize, generic, infer, materialize, process
from wikdict_gen_spark.operators.extract import RAW_LAYOUT, extract_text, raw_table, records
from wikdict_gen_spark.operators.partitioning import widen_if_narrow

# memory+disk, serialized (PySpark exposes no _SER constant)
_CKPT_LEVEL = StorageLevel(True, True, False, False, 1)

# partition_by of a lazy derivation that is neither committed nor checkpointed
VIEW = "view"

# Stages referenced by 2+ downstream consumers.  In fused mode these are
# the ONLY lineage-cut points: a re-referenced stage must be checkpointed
# (its analyzed subtree would otherwise be cloned into every consumer —
# exponential plan blowup — and its computation repeated), while a
# linear-chain stage is cheaper left lazy so Catalyst fuses it into its
# consumer's job (fewer serial job barriers, wider codegen spans).  A
# stage consumed once from the returned dict AND once downstream (e.g.
# infer_grouped if a caller materializes it separately) recomputes from
# the nearest upstream checkpoint — bounded by construction.
FANOUT_STAGES = frozenset({
    # NOT "extracted": the raw tables read the records relation, never the
    # extracted text itself, so records() is its only real consumer — the
    # full cleaned corpus text flows straight into the record explode
    # without being materialized a second time
    "records",            # seven raw-table filters
    "entry",              # importance, translation_base, alias_edges, kg_*
    "translation_clean",  # importance, translation_base
    "importance",         # translation_base, translation, simple_translation, kg_nodes
    "translation_base",   # hot-key detection scan + the link join itself
    "all_trans",          # backlink, indirect, direct/reverse/probe in fuse
    "backlink",           # indirect, fuse_evidence
    "indirect",           # fuse union + anti-join key projection
    "infer",              # infer_grouped, simple_translation, kg_edges
})


def _kg_edges(fused: DataFrame, entry: DataFrame, raw_pronun: DataFrame,
              form: DataFrame, raw_nym: DataFrame) -> DataFrame:
    return materialize.translation_edges(fused).unionByName(
        materialize.structural_edges(entry, raw_pronun, form, raw_nym))


def _stages() -> list[tuple]:
    """The DAG in build order: (name, inputs, build, partition_by).

    build(*inputs) returns the stage's DataFrame; "pages" is the scanned
    corpus.  Resolved per run, so a patched operator is picked up.
    """
    return [
        ("extracted", ("pages",), extract_text, None),
        # explode page bodies into record lines exactly once; the seven raw
        # tables are lazy filters of this snapshot (a filter of committed
        # parquet costs nothing to re-derive — committing each one
        # separately only adds serial snapshot latency)
        ("records", ("extracted",), records, None),
        *[(f"raw_{t}", ("records",), partial(raw_table, name=t), VIEW) for t in RAW_LAYOUT],
        ("entry", ("raw_entry", "raw_pos", "raw_gender", "raw_pronun"), process.make_entry,
         None),
        # canonical directly after entry: in fused mode its CC loop then
        # overlaps the whole translation chain (measured faster than
        # starting it at the end of that chain, or not overlapping it)
        ("alias_edges", ("entry", "raw_nym"), canonicalize.alias_edges, None),
        ("canonical", ("alias_edges",), canonicalize.connected_components, None),
        ("form", ("raw_form",), process.make_form, None),
        ("translation_clean", ("raw_translation",), process.clean_translations, None),
        ("importance", ("entry", "translation_clean", "raw_nym"), process.make_importance,
         None),
        ("translation_base", ("translation_clean", "entry", "importance"),
         process.make_translation_base, None),
        ("translation", ("translation_base", "importance"),
         partial(process.make_translation, audit=False), None),
        ("all_trans", ("translation",), process.make_all_trans, None),
        ("backlink", ("all_trans",), infer.backlink_score, None),
        ("indirect", ("all_trans", "backlink"), infer.indirect, None),
        ("infer", ("all_trans", "backlink", "indirect"), infer.fuse_evidence, None),
        ("infer_grouped", ("infer",), infer.group_inferred, None),
        ("translation_graded", ("infer_grouped",), generic.grade_translations, None),
        ("translation_grouped", ("translation_graded",), generic.group_translations, None),
        ("simple_translation", ("infer", "importance"), generic.simple_translations, None),
        ("kg_edges", ("infer", "entry", "raw_pronun", "form", "raw_nym"), _kg_edges,
         ["from_lang"]),
        ("kg_nodes", ("entry", "importance", "canonical"), materialize.build_nodes, ["lang"]),
    ]


class _Stages(Mapping):
    """Stage name -> DataFrame for every stage reached so far, in reach
    order.  A name added with `defer` is built by its thunk on first read;
    `in`, `len` and iteration see it without building it."""

    def __init__(self) -> None:
        self._dfs: dict[str, DataFrame | None] = {}
        self.pending: dict[str, Callable[[], DataFrame]] = {}

    def add(self, name: str, df: DataFrame) -> None:
        self._dfs[name] = df

    def defer(self, name: str, thunk: Callable[[], DataFrame]) -> None:
        self._dfs[name] = None
        self.pending[name] = thunk

    def __getitem__(self, name: str) -> DataFrame:
        if self._dfs[name] is None:
            self._dfs[name] = self.pending[name]()
            del self.pending[name]
        return self._dfs[name]

    def __contains__(self, name: object) -> bool:
        return name in self._dfs

    def __iter__(self) -> Iterator[str]:
        return iter(self._dfs)

    def __len__(self) -> int:
        return len(self._dfs)


def _on_side_thread(name: str, build, args: list[DataFrame]):
    """Start build(*args) on a daemon thread; return the thunk that joins it.

    A failure on the thread is retried once synchronously at the join, so a
    transient executor hiccup does not sink the run at its last read; if
    the retry fails too, the original error is chained.
    """
    box: dict[str, object] = {}

    def run() -> None:
        try:
            box["df"] = build(*args)
        except BaseException as exc:  # noqa: BLE001 — re-raised at the join
            box["err"] = exc

    thread = threading.Thread(target=run, name=f"stage-{name}", daemon=True)
    thread.start()

    def join() -> DataFrame:
        thread.join()
        if "err" not in box:
            return box["df"]
        try:
            return build(*args)
        except BaseException as exc:
            raise RuntimeError(
                f"stage {name!r} failed on its side thread and on synchronous "
                f"retry ({exc!r})"
            ) from box["err"]

    return join


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    workdir: str,
    stop_after: str | None = None,
    fused: bool = False,
) -> Mapping[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage DataFrames
    (and the scanned `pages`).  In checkpointed mode a committed stage is
    opened on its first read, so resuming a fully committed workdir starts
    no Spark job.

    stop_after: name of the last stage to commit (for resume testing).

    fused=True replaces per-stage snapshot commits with lazy local
    checkpoints: shared stages materialize once on first use and the only
    durable writes are the terminal actions.  This is the max-throughput
    shape (what a cluster job with only terminal Iceberg writes looks
    like); the default checkpointed mode is the resumable production shape.

    Why localCheckpoint and not persist(): logical plans are trees, not
    DAGs — every re-reference of a cached stage clones its entire analyzed
    subtree, so 20 composed stages blow the plan up exponentially (measured
    >200k plan nodes at the fuse stage; driver analysis time then dwarfs
    execution).  localCheckpoint truncates the *logical* lineage to a
    LogicalRDD while the underlying RDD graph still shares each stage's
    computation; eager=False keeps stages lazy until first use.  The cost
    is fused-mode fault-tolerance (lost executors can't recompute a local
    checkpoint) — acceptable by construction: fused mode IS the
    no-resume shape, checkpointed mode is the durable one.

    Fused mode also runs canonical (alias edges + iterative CC, an eager
    driver-side loop only kg_nodes reads) on a side thread: its small jobs
    interleave with the translation chain on idle task slots instead of
    serializing in front of the terminal writes.  A stage that reads it
    (kg_nodes) is built when the caller first reads that stage.
    """
    stages = _stages()
    names = [name for name, *_ in stages]
    if stop_after is not None and stop_after not in names:
        raise ValueError(f"unknown stop_after stage {stop_after!r}; valid: {', '.join(names)}")
    cat = Catalog(spark, workdir)
    out = _Stages()

    def scan() -> DataFrame:
        # a pathological corpus layout (one unsplittable row group) would
        # leave the extraction UDFs under-parallel; only then is a widening
        # shuffle of the raw html worth paying
        return widen_if_narrow(spark.read.parquet(pages_path))

    if fused:
        out.add("pages", scan())
    else:
        out.defer("pages", scan)

    def build_stage(name: str, inputs: tuple[str, ...], build, partition_by) -> DataFrame:
        args = [out[i] for i in inputs]
        if partition_by == VIEW:
            return build(*args)
        if not fused:
            return cat.ensure(name, lambda: build(*args), partition_by)
        df = build(*args)
        if name in FANOUT_STAGES:
            # serialized blocks: checkpointed stages are re-scanned by
            # several consumers, and deserialized row objects make those
            # scans GC-bound (measured ~6% pipeline wall at 4 cores)
            df = df.localCheckpoint(eager=False, storageLevel=_CKPT_LEVEL)
        return df

    for name, inputs, build, partition_by in stages:
        step = partial(build_stage, name, inputs, build, partition_by)
        if not fused:
            # checkpointed: a committed stage is opened, and a view derived,
            # only when an uncommitted stage or the caller first reads it
            if partition_by == VIEW:
                out.defer(name, step)
            elif cat.exists(name):
                out.defer(name, partial(cat.read, name))
            else:
                out.add(name, step())
        elif any(i in out.pending for i in inputs):
            out.defer(name, step)
        elif name == "canonical":
            # force the shared prefix first so the two threads never race
            # to compute the same un-materialized checkpoint
            out["entry"].count()
            out.defer(name, _on_side_thread(name, build, [out[i] for i in inputs]))
        else:
            out.add(name, step())
        if name == stop_after:
            break
    return out
