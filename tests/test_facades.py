"""Contract tests for the environment-gated integration branches that
this container cannot exercise for real: the Iceberg TableIO facade
(iceberg-spark-runtime jar absent) and the fastText model loader (the
fasttext package absent). Both are driven with fakes so the branch
LOGIC is pinned even though the external artifact is unavailable."""

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- Iceberg facade branch selection ---------------------------------------


class _FakeLoader:
    def __init__(self, log, fmt=None, fail=False):
        self.log, self.fmt, self.fail = log, fmt, fail

    def format(self, name):
        return _FakeLoader(self.log, fmt=name, fail=self.fail)

    def load(self, path):
        if self.fail:
            raise RuntimeError("no iceberg catalog")
        self.log.append(("load", self.fmt, path))
        return f"df:{self.fmt}:{path}"

    def parquet(self, path):
        self.log.append(("parquet", path))
        return f"df:parquet:{path}"


class _FakeSpark:
    def __init__(self, log, iceberg_fails=False):
        self.read = _FakeLoader(log, fail=iceberg_fails)


def test_tableio_uses_iceberg_when_available(monkeypatch):
    from pii_redaction_data_pipeline_spark.sources import tables

    monkeypatch.setattr(tables, "iceberg_available", lambda s: True)
    log = []
    io = tables.TableIO(_FakeSpark(log))
    assert io.use_iceberg is True
    assert io.read("catalog.db.transcripts") == "df:iceberg:catalog.db.transcripts"
    assert log == [("load", "iceberg", "catalog.db.transcripts")]


def test_tableio_iceberg_skips_parquet_suffix_paths(monkeypatch):
    """A .parquet path is a file location, never an Iceberg table ref."""
    from pii_redaction_data_pipeline_spark.sources import tables

    monkeypatch.setattr(tables, "iceberg_available", lambda s: True)
    log = []
    io = tables.TableIO(_FakeSpark(log))
    assert io.read("/data/in.parquet") == "df:parquet:/data/in.parquet"
    assert log == [("parquet", "/data/in.parquet")]


def test_tableio_iceberg_probe_and_read_errors_propagate(monkeypatch):
    """Layout-probe contract: a filesystem path is Iceberg iff its
    `metadata` marker exists. A probe that fails raises instead of
    guessing 'not Iceberg' (that guess would read a real table's location
    as raw parquet, superseded snapshots included); a path without the
    marker reads as plain parquet; a path WITH it is a real Iceberg table
    whose read errors propagate."""
    import pytest

    from pii_redaction_data_pipeline_spark.sources import fsutil, tables

    monkeypatch.setattr(tables, "iceberg_available", lambda s: True)
    log = []
    io = tables.TableIO(_FakeSpark(log, iceberg_fails=True))

    def unprobeable(spark, path):
        raise OSError("filesystem unreachable")

    monkeypatch.setattr(fsutil, "exists", unprobeable)
    with pytest.raises(OSError, match="unreachable"):
        io.read("some/dir")
    assert log == []

    def probe(has_marker):
        monkeypatch.setattr(fsutil, "exists", lambda s, p: has_marker)

    probe(False)
    assert io.read("some/dir") == "df:parquet:some/dir"
    assert log == [("parquet", "some/dir")]
    # metadata marker present -> the iceberg failure must surface
    probe(True)
    with pytest.raises(RuntimeError, match="no iceberg catalog"):
        io.read("some/dir")


def test_tableio_parquet_only_without_jar(monkeypatch):
    from pii_redaction_data_pipeline_spark.sources import tables

    monkeypatch.setattr(tables, "iceberg_available", lambda s: False)
    log = []
    io = tables.TableIO(_FakeSpark(log))
    assert io.use_iceberg is False
    assert io.read("catalog.db.transcripts") == "df:parquet:catalog.db.transcripts"


# --- fastText loader branch -------------------------------------------------


class _FakeFTModel:
    def __init__(self, path):
        with open(path, "rb") as f:
            self.payload = f.read()

    def predict(self, texts, k=1):
        labels = [["__label__en"] for _ in texts]
        probs = [[0.97] for _ in texts]
        return labels, probs


def _install_fake_fasttext(monkeypatch, loads):
    mod = types.ModuleType("fasttext")

    def load_model(path):
        loads.append(path)
        return _FakeFTModel(path)

    mod.load_model = load_model
    monkeypatch.setitem(sys.modules, "fasttext", mod)
    return mod


def test_load_fasttext_writes_bytes_and_caches(monkeypatch):
    from pii_redaction_data_pipeline_spark.functions import langid

    loads = []
    _install_fake_fasttext(monkeypatch, loads)
    langid._FT_CACHE.clear()
    payload = b"ftz-model-bytes"
    m1 = langid._load_fasttext(payload, "keyA")
    assert m1.payload == payload  # broadcast bytes reached the runtime
    m2 = langid._load_fasttext(payload, "keyA")
    assert m2 is m1 and len(loads) == 1  # per-key executor-local singleton
    langid._load_fasttext(b"other", "keyB")
    assert len(loads) == 2
    # temp file cleaned up after load
    assert not os.path.exists(loads[0])
    langid._FT_CACHE.clear()


def test_make_langid_udf_fasttext_path(monkeypatch, tmp_path, spark):
    """The real-model path: make_langid_udf reads the model file, builds
    the broadcast, and the UDF body (invoked directly — the fake runtime
    exists only in this process, not in Spark's Python workers) loads
    from broadcast bytes and honors the predict contract."""
    import pandas as pd

    from pii_redaction_data_pipeline_spark.functions import langid

    loads = []
    _install_fake_fasttext(monkeypatch, loads)
    langid._FT_CACHE.clear()
    model_path = tmp_path / "lid.ftz"
    model_path.write_bytes(b"stub-model")

    udf = langid.make_langid_udf(str(model_path), spark=spark)
    out = udf.func(pd.Series(["hello world", "guten tag"]))
    assert out["lang"].tolist() == ["en", "en"]
    assert (out["lang_conf"] - 0.97).abs().max() < 1e-9
    # the model the worker loaded came from the broadcast file bytes
    assert langid._FT_CACHE[str(model_path)].payload == b"stub-model"
    langid._FT_CACHE.clear()


def test_write_bucketed_replaces_only_present_buckets(spark, tmp_path):
    """write_bucketed overwrites only the buckets present in the new
    frame: a resumed bucket replaces its own files, and every other
    bucket survives untouched."""
    from pii_redaction_data_pipeline_spark.sources.tables import (
        BUCKET_COL,
        TableIO,
    )

    io = TableIO(spark, n_buckets=4)
    p = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(f"c{i}", i) for i in range(40)], "conv_id string, v int"
    )
    io.write_bucketed(full, p)

    def per_bucket():
        rows = spark.read.parquet(p).groupBy(BUCKET_COL).count().collect()
        return {r[BUCKET_COL]: r["count"] for r in rows}

    before = per_bucket()
    assert len(before) == 4
    io.write_bucketed(full.filter("conv_id = 'c0'"), p)
    after = per_bucket()
    hit = spark.read.parquet(p).filter("conv_id = 'c0'").first()[BUCKET_COL]
    assert before[hit] > 1 and after[hit] == 1
    assert {b: n for b, n in after.items() if b != hit} == {
        b: n for b, n in before.items() if b != hit
    }
