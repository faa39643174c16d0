"""io/stages.StageRunner manifest writes: a stage's rows are purged
before its table is rewritten only when the manifest holds a row for
it, so a fresh root never overwrites its manifest."""

from __future__ import annotations

from go_pkg_spider_spark.io.catalog import Catalog
from go_pkg_spider_spark.io.stages import StageRunner, manifest_schema

TABLE = "test_manifest"


class _RecordingCatalog(Catalog):
    """Logs every overwrite, with the stages the manifest holds at the
    moment each stage table is written."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.log = []

    def write(self, df, table, mode="overwrite", partition_by=None):
        if table == TABLE:
            self.log.append(("manifest", None))
        else:
            held = (
                sorted(r.stage for r in self.read(TABLE).select("stage").collect())
                if self.exists(TABLE)
                else []
            )
            self.log.append((table, held))
        return super().write(df, table, mode=mode, partition_by=partition_by)


def _chain(spark, cat, params, run_id):
    runner = StageRunner(spark, cat, TABLE, params, run_id)
    for stage in ("a", "b"):
        if not runner.resumable(stage):
            runner.commit(stage, spark.range(3).withColumnRenamed("id", stage))
    return runner.summary


def test_fresh_root_never_overwrites_manifest(spark, tmp_path):
    cat = _RecordingCatalog(spark, str(tmp_path / "fresh"))
    s = _chain(spark, cat, {"k": 1}, "r1")
    assert s["stages_run"] == 2
    assert cat.log == [("a", []), ("b", ["a"])]
    rows = cat.read(TABLE).collect()
    assert sorted((r.stage, r.status) for r in rows) == [("a", "done"), ("b", "done")]


def test_prior_row_is_purged_before_table_rewrite(spark, tmp_path):
    root = str(tmp_path / "prior")
    _chain(spark, Catalog(spark, root), {"k": 1}, "r1")
    cat = _RecordingCatalog(spark, root)
    s = _chain(spark, cat, {"k": 2}, "r2")
    assert s["stages_run"] == 2
    # each stage's old row is gone by the time its table is rewritten
    assert cat.log == [
        ("manifest", None), ("a", ["b"]),
        ("manifest", None), ("b", ["a"]),
    ]
    rows = cat.read(TABLE).collect()
    assert len(rows) == 2
    assert all('"k": 2' in r.metrics["params_sig"] for r in rows)


def test_purging_last_row_leaves_readable_manifest(spark, tmp_path):
    root = str(tmp_path / "last")
    cat = Catalog(spark, root)
    runner = StageRunner(spark, cat, TABLE, {"k": 1}, "r1")
    runner.commit("only", spark.range(2))
    StageRunner(spark, cat, TABLE, {"k": 2}, "r2")._invalidate("only")
    assert cat.exists(TABLE)
    mdf = cat.read(TABLE)
    assert mdf.schema.names == manifest_schema().names
    assert mdf.count() == 0
    # and a fresh runner reads it as "nothing done"
    assert not StageRunner(spark, cat, TABLE, {"k": 1}, "r3").resumable("only")
