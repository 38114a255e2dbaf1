"""End-to-end pipeline tests: oracle parity, planted semantic cases,
triple P/R, determinism, resume idempotency."""

import os
import shutil
import threading
from collections.abc import Mapping

import pytest
from pyspark.sql import functions as F

from tests.oracle import Oracle
from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize
from wikdict_gen_spark.pipeline import VIEW, _Stages, _stages, run_pipeline


@pytest.fixture(scope="module")
def built_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("pipeline")


@pytest.fixture(scope="module")
def built(spark, fixture_dir, built_dir):
    out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(built_dir))
    return out


@pytest.fixture(scope="module")
def oracle(fixture_dir):
    return Oracle(fixture_dir)


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


ALL_TRANS_COLS = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                  "from_vocable", "to_vocable"]


class TestOracleParity:
    def test_all_trans(self, built, oracle):
        got = _rows(built["all_trans"], ALL_TRANS_COLS)
        want = {tuple(r[c] for c in ALL_TRANS_COLS) for r in oracle.all_trans}
        assert got == want

    def test_all_trans_importances(self, built, oracle):
        got = {
            tuple(r[c] for c in ALL_TRANS_COLS): (r["from_importance"], r["to_importance"])
            for r in built["all_trans"].collect()
        }
        for r in oracle.all_trans:
            k = tuple(r[c] for c in ALL_TRANS_COLS)
            assert got[k][0] == pytest.approx(r["from_importance"], rel=1e-9)
            assert got[k][1] == pytest.approx(r["to_importance"], rel=1e-9)

    def test_backlink(self, built, oracle):
        got = {
            (r["from_lang"], r["to_lang"], r["from_vocable"], r["to_vocable"],
             r["back_sense"]): r["backlink_score"]
            for r in built["backlink"].collect()
        }
        assert set(got) == set(oracle.backlink)
        for k, v in oracle.backlink.items():
            assert got[k] == pytest.approx(v, rel=1e-12)

    def test_infer_fusion(self, built, oracle):
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                "from_vocable", "to_vocable"]
        got = {
            tuple(r[c] for c in cols): (r["score"], tuple(r["sources"]),
                                        tuple(r["source_details"]))
            for r in built["infer"].collect()
        }
        want = {
            tuple(r[c] for c in cols): (r["score"], tuple(r["sources"]),
                                        tuple(r["source_details"]))
            for r in oracle.infer
        }
        assert set(got) == set(want)
        for k, (score, sources, details) in want.items():
            g_score, g_sources, g_details = got[k]
            assert g_score == pytest.approx(score, rel=1e-9), k
            assert g_sources == sources, k
            assert g_details == details, k

    def test_infer_grouped(self, built, oracle):
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense", "from_vocable"]
        got = {
            tuple(r[c] for c in cols): (r["trans_list"], r["score"])
            for r in built["infer_grouped"].collect()
        }
        want = {
            tuple(r[c] for c in cols): (r["trans_list"], r["score"])
            for r in oracle.infer_grouped
        }
        assert set(got) == set(want)
        for k, (tl, score) in want.items():
            assert got[k][0] == tl, k
            assert got[k][1] == pytest.approx(score, rel=1e-9), k

    def test_triple_precision_recall(self, built, oracle):
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in built["kg_edges"].where(F.col("pred") == "translatesTo").collect()
        }
        want = oracle.expected_translation_triples()
        tp = len(got & want)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(want) if want else 0.0
        assert precision >= 0.95, f"precision {precision}"
        assert recall >= 0.95, f"recall {recall}"
        # at toy scale the match must be exact
        assert got == want


class TestPlantedCases:
    """Mirrors the reference's end-to-end expectations (test_results.py analogs)."""

    def test_true_pivot_found(self, built):
        rows = (
            built["infer_grouped"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "degehen")
            )
            .collect()
        )
        matches = [r for r in rows if "svgaa" in r["trans_list"]]
        assert matches, "true pivot de->sv degehen->svgaa missing"
        assert max(r["score"] for r in matches) >= 20

    def test_false_friend_suppressed(self, built):
        rows = (
            built["infer_grouped"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "degehen")
            )
            .collect()
        )
        assert all("svaaka" not in r["trans_list"] for r in rows)

    def test_reverse_fallback(self, built):
        rows = (
            built["infer"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "derueck") & (F.col("to_vocable") == "svrueck")
            )
            .collect()
        )
        assert len(rows) == 1
        assert rows[0]["sources"] == ["direct_reverse"]
        assert rows[0]["score"] == 2.0

    def test_sense_beats_gloss(self, built):
        rows = (
            built["all_trans"]
            .where((F.col("lexentry") == "deu/dehaus__noun__1") & (F.col("to_lang") == "en"))
            .collect()
        )
        senses = {r["sense"] for r in rows}
        assert "building" in senses
        assert "rough gloss building" not in senses

    def test_fr_dummy_sense_nulled(self, built):
        rows = (
            built["all_trans"]
            .where((F.col("from_lang") == "fr") & (F.col("from_vocable") == "frmaison"))
            .collect()
        )
        assert rows and all(r["sense"] == "" for r in rows)

    def test_gender_conflict_null(self, built):
        row = built["entry"].where(F.col("lexentry") == "deu/dekonflikt__noun__1").collect()
        assert row[0]["gender"] is None

    def test_inflection_cleaning_and_rank(self, built):
        forms = {r["other_written"]: r for r in built["form"].collect()}
        assert "degeht" in forms  # er/sie/es stripped
        assert forms["degeht"]["rank"] == 1
        assert "degeh" in forms  # trailing ! stripped
        assert "dehäuser" in forms  # article stripped
        assert forms["dehäuser"]["rank"] == 2
        assert forms["dehauses"]["rank"] is None  # no matching display slot

    def test_alias_cluster_canonical(self, built):
        mapping = {r["node"]: r["canonical"] for r in built["canonical"].collect()}
        expect_root = min(
            ["deu/dehaus"] + [f"deu/dealias{i}" for i in range(9)]
        )
        for i in range(9):
            assert mapping[f"deu/dealias{i}"] == expect_root
        assert mapping["deu/dehaus"] == expect_root

    def test_pos_crossed_synonym_not_linked(self, built):
        """F6: a verb synonym naming the noun hub's surface must not merge."""
        mapping = {r["node"]: r["canonical"] for r in built["canonical"].collect()}
        # dexpos produced no alias edge at all, so it's absent or self-rooted
        assert mapping.get("deu/dexpos", "deu/dexpos") == "deu/dexpos"
        edges = built["alias_edges"].collect()
        assert not any("dexpos" in (r["u"], r["v"]) for r in edges)

    def test_abbreviation_excluded_from_importance(self, built):
        """F6: abbreviation lexentries score no importance; their
        translations drop at the inner from-importance join."""
        imp = built["importance"].where(F.col("vocable") == "deu/deabk").collect()
        assert imp == []
        trans = built["all_trans"].where(
            F.col("lexentry") == "deu/deabk__abbreviation__1"
        ).collect()
        assert trans == []


class TestDeterminismAndResume:
    def test_rerun_identical(self, spark, fixture_dir, built, tmp_path_factory):
        """Fresh run in a new workdir (different partitioning of work) must
        produce identical grouped results, incl. ordered aggregations."""
        work2 = tmp_path_factory.mktemp("pipeline2")
        out2 = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work2))
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                "from_vocable", "trans_list", "score"]
        assert _rows(built["infer_grouped"], cols) == _rows(out2["infer_grouped"], cols)

    def test_fused_mode_identical(self, spark, fixture_dir, built, tmp_path_factory):
        """The fused (cache-only, terminal-write) mode must produce the same
        graph as the checkpointed mode."""
        work = tmp_path_factory.mktemp("pipeline_fused")
        out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work), fused=True)
        cols = ["subj", "pred", "obj"]
        assert _rows(out["kg_edges"], cols) == _rows(built["kg_edges"], cols)
        # canonical runs on the side thread; kg_nodes is built on this read
        node_cols = ["node_id", "lang", "written_rep", "part_of_speech", "gender",
                     "canonical_id"]
        assert _rows(out["kg_nodes"], node_cols) == _rows(built["kg_nodes"], node_cols)

        def importance(df):
            return {r["node_id"]: r["importance"] for r in df.collect()}

        assert importance(out["kg_nodes"]) == pytest.approx(importance(built["kg_nodes"]))
        assert _rows(out["canonical"], ["node", "canonical"]) == _rows(
            built["canonical"], ["node", "canonical"])
        assert os.listdir(work) == []
        spark.catalog.clearCache()

    def test_unknown_stop_after_rejected_before_spark(self, spark, tmp_path):
        """A typo in stop_after must not silently build and commit the whole
        pipeline: it raises before the corpus is even read."""
        work = tmp_path / "work"
        with pytest.raises(ValueError, match="all_trans") as err:
            run_pipeline(spark, str(tmp_path / "missing.parquet"), str(work),
                         stop_after="all_tran")
        assert "'all_tran'" in str(err.value)
        assert not work.exists()

    def test_resume_after_partial(self, spark, fixture_dir, built, tmp_path_factory):
        """Stop after an early stage, resume: final snapshot identical and
        committed stages are not recomputed (verified via marker mtimes)."""
        work3 = tmp_path_factory.mktemp("pipeline3")
        run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3), stop_after="all_trans")
        marker = os.path.join(work3, "all_trans", "_COMMITTED")
        mtime_before = os.path.getmtime(marker)
        out3 = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3))
        assert os.path.getmtime(marker) == mtime_before  # not recomputed
        cols = ["subj", "pred", "obj"]
        assert _rows(out3["kg_edges"], cols) == _rows(built["kg_edges"], cols)
        # every stage after the resume point must ALSO be durably committed —
        # guards against any mode-flag regression that silently drops the
        # back half of the pipeline to the uncommitted in-memory path
        for stage in ["infer", "infer_grouped", "translation_graded",
                      "simple_translation", "canonical", "kg_edges", "kg_nodes"]:
            assert os.path.exists(os.path.join(work3, stage, "_COMMITTED")), stage
        # resume past the terminal stage touches nothing: all markers stable
        mtimes = {
            s: os.path.getmtime(os.path.join(work3, s, "_COMMITTED"))
            for s in ["infer", "kg_edges", "kg_nodes"]
        }
        run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3))
        for s, m in mtimes.items():
            assert os.path.getmtime(os.path.join(work3, s, "_COMMITTED")) == m, s


class TestLazyResume:
    """Checkpointed resume opens a committed stage only when it is read."""

    STAGES = [name for name, *_ in _stages()]
    COMMITTED = [name for name, _, _, partition_by in _stages() if partition_by != VIEW]
    NODE_COLS = ["node_id", "lang", "written_rep", "part_of_speech", "gender",
                 "canonical_id"]

    def _markers(self, work, skip=()):
        return {s: os.path.getmtime(work / s / "_COMMITTED")
                for s in self.COMMITTED if s not in skip}

    def test_committed_workdir_starts_no_job(self, spark, fixture_dir, built, built_dir,
                                             jobs_started):
        jobs, out = jobs_started(
            lambda: run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(built_dir)))
        assert jobs == []
        assert list(out) == ["pages", *self.STAGES]
        assert out["kg_edges"].count() == built["kg_edges"].count()

    def test_read_schema_is_inferred_schema(self, spark, built, built_dir):
        assert len(self.COMMITTED) == 20
        cat = Catalog(spark, built_dir)
        for name in self.COMMITTED:
            assert (built_dir / name / "_schema.json").exists(), name
            inferred = spark.read.parquet(str(built_dir / name)).schema
            assert cat.read(name).schema == inferred, name

    def test_resume_without_schema_files(self, spark, fixture_dir, built, built_dir,
                                         tmp_path, jobs_started):
        """A workdir committed before schemas were saved still resumes: reads
        fall back to inference, but only on first use, and nothing is
        rebuilt."""
        work = tmp_path / "work"
        shutil.copytree(built_dir, work)
        for f in work.glob("*/_schema.json"):
            f.unlink()
        before = self._markers(work)
        jobs, out = jobs_started(
            lambda: run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work)))
        assert jobs == []
        assert out["kg_nodes"].schema == built["kg_nodes"].schema
        assert _rows(out["kg_nodes"], self.NODE_COLS) == _rows(built["kg_nodes"],
                                                               self.NODE_COLS)
        assert self._markers(work) == before
        assert list(work.glob("*/_schema.json")) == []

    def test_uncommitted_dir_rebuilt(self, spark, fixture_dir, built, built_dir, tmp_path):
        """A stage directory without _COMMITTED (here: another table's data
        and schema) is rebuilt and committed, not read."""
        work = tmp_path / "work"
        shutil.copytree(built_dir, work)
        shutil.rmtree(work / "kg_nodes")
        shutil.copytree(work / "form", work / "kg_nodes")
        (work / "kg_nodes" / "_COMMITTED").unlink()
        others = self._markers(work, skip={"kg_nodes"})
        out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work))
        assert (work / "kg_nodes" / "_COMMITTED").exists()
        assert _rows(out["kg_nodes"], self.NODE_COLS) == _rows(built["kg_nodes"],
                                                               self.NODE_COLS)
        assert Catalog(spark, work).read("kg_nodes").schema == built["kg_nodes"].schema
        assert self._markers(work, skip={"kg_nodes"}) == others


class TestStagesMapping:
    def test_pending_names_visible_without_building(self):
        calls = []
        stages = _Stages()
        stages.add("a", "A")
        stages.defer("b", lambda: calls.append("b") or "B")
        assert isinstance(stages, Mapping)
        assert "b" in stages and "c" not in stages
        assert len(stages) == 2
        assert list(stages) == ["a", "b"]
        assert calls == []
        assert stages.get("b") == "B"
        assert stages["b"] == "B"
        assert calls == ["b"]
        assert stages.get("c") is None
        with pytest.raises(KeyError):
            stages["c"]


class TestFusedSideThread:
    """Fused mode runs canonical on a side thread; a failure there is
    retried once synchronously when canonical is read."""

    def _run(self, spark, fixture_dir, tmp_path, monkeypatch, fail_times):
        real = canonicalize.connected_components
        calls = []

        def flaky(edges):
            calls.append(threading.current_thread())
            if len(calls) <= fail_times:
                raise OSError(f"injected failure {len(calls)}")
            return real(edges)

        monkeypatch.setattr(canonicalize, "connected_components", flaky)
        out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(tmp_path),
                           stop_after="canonical", fused=True)
        return out, calls

    def test_retry_returns_same_mapping(self, spark, fixture_dir, built, tmp_path,
                                        monkeypatch):
        out, calls = self._run(spark, fixture_dir, tmp_path, monkeypatch, fail_times=1)
        cols = ["node", "canonical"]
        assert _rows(out["canonical"], cols) == _rows(built["canonical"], cols)
        assert len(calls) == 2
        assert calls[0] is not threading.main_thread()
        assert calls[1] is threading.main_thread()
        spark.catalog.clearCache()

    def test_second_failure_raises_with_original_chained(self, spark, fixture_dir,
                                                         tmp_path, monkeypatch):
        out, calls = self._run(spark, fixture_dir, tmp_path, monkeypatch, fail_times=2)
        with pytest.raises(RuntimeError, match="injected failure 2") as err:
            out["canonical"]
        assert isinstance(err.value.__cause__, OSError)
        assert str(err.value.__cause__) == "injected failure 1"
        assert len(calls) == 2
        spark.catalog.clearCache()
