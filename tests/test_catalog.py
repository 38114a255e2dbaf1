"""Catalog commit protocol: the read-back schema is saved before the commit
marker, and reads that have it start no Spark job."""

from pathlib import Path

from wikdict_gen_spark.catalog import Catalog


def _frame(spark):
    return spark.createDataFrame(
        [("de", "a", 1.0), ("en", "b", None), ("de", None, 3.5)],
        schema="lang string, word string, score double",
    )


def test_schema_saved_before_commit_marker(spark, tmp_path, monkeypatch):
    seen = []
    touch = Path.touch

    def spy(self, *args, **kwargs):
        if self.name == "_COMMITTED":
            seen.append((self.parent / "_schema.json").exists())
        return touch(self, *args, **kwargs)

    monkeypatch.setattr(Path, "touch", spy)
    Catalog(spark, tmp_path).write(_frame(spark), "t", ["lang"])
    assert seen == [True]


def test_read_uses_saved_schema(spark, tmp_path, jobs_started):
    cat = Catalog(spark, tmp_path)
    back = cat.write(_frame(spark), "t", ["lang"])
    inferred = spark.read.parquet(str(cat.path("t"))).schema
    assert back.schema == inferred
    assert [f.name for f in inferred] == ["word", "score", "lang"]

    jobs, df = jobs_started(lambda: cat.read("t"))
    assert jobs == []
    assert df.schema == inferred
    assert set(df.collect()) == set(back.collect())

    # a table committed without a saved schema falls back to inference,
    # which is a Spark job: the zero above is not a blind spot
    (cat.path("t") / "_schema.json").unlink()
    jobs, df = jobs_started(lambda: cat.read("t"))
    assert jobs != []
    assert df.schema == inferred
