"""S1 extract + S2 mention/structure detection.

extract_text: pages -> (url, lang, text) with the byte-identical cleaning
contract, via one Arrow-batched pandas UDF over the binary html column.

records / raw_table: cleaned text -> record lines -> raw fact tables.
Record detection is pure JVM (split/explode/filter/element_at inside
whole-stage codegen) — the expensive fan-out of page bodies into facts
never touches Python.

Scale shape: both steps are embarrassingly parallel map/flatMap over the
pages scan; no shuffle is introduced before the first groupBy in the
process stage.  Column pruning keeps the html column out of every
downstream scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark.functions.spark_udfs import extract_text_udf


def extract_text(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted(url, lang, text)."""
    return pages.select(
        "url", "lang", extract_text_udf(F.col("html")).alias("text")
    )


def records(extracted: DataFrame, keep_url: bool = False) -> DataFrame:
    """Explode page text into tab-separated record lines (tag, parts).

    keep_url=False (default) drops the source url from the fan-out: no
    fact table consumes it, and the records relation is the widest
    multi-consumer intermediate in the pipeline (seven raw-table filters
    re-scan it), so a ~35-char provenance string per record line is pure
    shuffle/cache traffic at scale.  Page-level provenance lives in the
    extract stage (url -> byte-identical text contract) and snapshot-level
    lineage in the catalog's metrics rows; pass keep_url=True when
    debugging record attribution.
    """
    cols = (["url"] if keep_url else []) + ["lang"]
    lines = extracted.select(
        *cols,
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).where(F.col("line").startswith("#"))
    return lines.select(
        *cols,
        F.split(F.col("line"), "\t").alias("p"),
    ).withColumn("tag", F.col("p").getItem(0))


def _f(i: int):
    """1-based record field accessor (field 0 is the tag); '' -> NULL."""
    return F.nullif(F.element_at(F.col("p"), i + 1), F.lit(""))


# raw table -> (record tag, output columns).  A column source is a 1-based
# record field ('' -> NULL) or a column of the records relation.
_FORM_FEATS = [
    "pos", "mood", "number", "person", "tense", "voice", "case",
    "inflection", "definiteness", "gender",
]
RAW_LAYOUT: dict[str, tuple[str, list[tuple[int | str, str]]]] = {
    "entry": ("entry", [(1, "lexentry"), (2, "vocable"), (3, "written_rep"), ("lang", "lang")]),
    "pos": ("pos", [(1, "lexentry"), (2, "part_of_speech"), ("lang", "lang")]),
    "gender": ("gender", [(1, "lexentry"), (2, "gender"), ("lang", "lang")]),
    "pronun": ("pronun", [(1, "lexentry"), (2, "pronun"), ("lang", "lang")]),
    "form": ("form", [(1, "lexentry"), (2, "other_written"),
                      *[(3 + i, c) for i, c in enumerate(_FORM_FEATS)], ("lang", "lang")]),
    "translation": ("trans", [(1, "lexentry"), (2, "sense_num"), (3, "trans_kind"),
                              ("lang", "from_lang"), (4, "to_lang"), (5, "sense"),
                              (6, "trans")]),
    "nym": ("nym", [(1, "f"), (2, "nym"), (3, "t_rep"), ("lang", "lang")]),
}


def raw_table(recs: DataFrame, name: str) -> DataFrame:
    """Structure detection: record lines -> one raw fact DataFrame.

    Shapes mirror the reference's raw tables (schemas.RAW_*); each is a
    lazy filter + projection of the records relation.
    """
    tag, cols = RAW_LAYOUT[name]
    return recs.where(F.col("tag") == f"#{tag}").select(*[
        (_f(src) if isinstance(src, int) else F.col(src)).alias(alias)
        for src, alias in cols
    ])


def parse_records(extracted: DataFrame, recs: DataFrame | None = None) -> dict[str, DataFrame]:
    """Every raw fact table, keyed entry/pos/gender/pronun/form/translation/nym.

    Pass a pre-materialized `recs` (from records()) to avoid re-exploding
    the page bodies once per fact table.
    """
    if recs is None:
        recs = records(extracted)
    return {name: raw_table(recs, name) for name in RAW_LAYOUT}
