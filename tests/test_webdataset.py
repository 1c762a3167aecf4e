"""WebDataset tar sharding (operators/webdataset.py): byte-exact
round trips verified with stdlib tarfile as the independent reader,
deterministic shard bytes across re-exports and input layouts, the
erasure blast-radius contract, and manifest integrity."""

from __future__ import annotations

import hashlib
import io
import tarfile

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import encode_ppm
from data_pipeline_project_using_telegram_and_aws_spark.operators.webdataset import (
    affected_webdataset_shards,
    read_webdataset_shards,
    write_webdataset_shards,
)

import numpy as np


def _corpus(spark, n=40):
    rows = [
        (
            i,
            f"document {i} body text",
            bytearray(
                encode_ppm(
                    np.full((2, 2, 3), i % 251, dtype=np.uint8)
                )
            ),
            ["en", "de"][i % 2],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, media binary, lang string"
    )


def test_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "wds")
    df = _corpus(spark)
    manifest = write_webdataset_shards(
        df, out, n_shards=4, media_col="media", meta_cols=["lang"]
    ).collect()
    assert sorted(r.shard for r in manifest) == [0, 1, 2, 3]
    assert sum(r.n_samples for r in manifest) == 40

    # independent read: stdlib tarfile over the published files
    import json as _json

    seen = {}
    for r in manifest:
        raw = open(f"{out}/shard-{r.shard:05d}.tar", "rb").read()
        assert hashlib.sha256(raw).hexdigest() == r.sha256
        assert len(raw) == r.n_bytes
        with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
            for m in tf.getmembers():
                key, ext = m.name.rsplit(".", 1)
                seen.setdefault(int(key), {})[ext] = tf.extractfile(m).read()
    assert set(seen) == set(range(40))
    for i, parts in seen.items():
        assert parts["txt"].decode() == f"document {i} body text"
        assert parts["bin"] == bytes(
            encode_ppm(np.full((2, 2, 3), i % 251, dtype=np.uint8))
        )
        assert _json.loads(parts["json"]) == {"lang": ["en", "de"][i % 2]}

    # the distributed reader agrees sample-for-sample
    back = read_webdataset_shards(spark, out).collect()
    assert len(back) == 40
    for r in back:
        i = int(r.key)
        assert r.txt == f"document {i} body text"
        assert bytes(r.bin) == seen[i]["bin"]


def test_shard_bytes_deterministic_across_layouts(spark, tmp_path):
    """Re-exporting the same rows from a different partitioning and
    row order produces byte-identical tars (the manifest doctrine)."""
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    df = _corpus(spark)
    m1 = {
        r.shard: r.sha256
        for r in write_webdataset_shards(
            df, out1, n_shards=4, media_col="media"
        ).collect()
    }
    shuffled = df.orderBy(F.desc("text")).repartition(7)
    m2 = {
        r.shard: r.sha256
        for r in write_webdataset_shards(
            shuffled, out2, n_shards=4, media_col="media"
        ).collect()
    }
    assert m1 == m2
    for s in m1:
        a = open(f"{out1}/shard-{s:05d}.tar", "rb").read()
        b = open(f"{out2}/shard-{s:05d}.tar", "rb").read()
        assert a == b


def test_erasure_blast_radius_and_selective_reexport(spark, tmp_path):
    """Erase two docs: affected_webdataset_shards names exactly their
    tars; re-exporting only those shards from the survivors leaves
    every other tar byte-untouched and the erased keys gone."""
    out = str(tmp_path / "wds")
    df = _corpus(spark)
    write_webdataset_shards(df, out, n_shards=4, media_col="media")
    before = {
        s: open(f"{out}/shard-{s:05d}.tar", "rb").read() for s in range(4)
    }
    erased = spark.createDataFrame([(3,), (17,)], "doc_id long")
    hit = [
        r.shard
        for r in affected_webdataset_shards(erased, 4).collect()
    ]
    # recompute the expectation independently
    want_hit = sorted(
        {r.shard for r in read_webdataset_shards(spark, out)
         .where(F.col("key").cast("long").isin(3, 17)).collect()}
    )
    assert hit == want_hit

    survivors = df.where(~F.col("doc_id").isin(3, 17))
    write_webdataset_shards(
        survivors.withColumn(
            "__s", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
        ).where(F.col("__s").isin(hit)).drop("__s"),
        out, n_shards=4, media_col="media",
    )
    after = {
        s: open(f"{out}/shard-{s:05d}.tar", "rb").read() for s in range(4)
    }
    for s in range(4):
        if s in hit:
            assert after[s] != before[s]
        else:
            assert after[s] == before[s]  # untouched bytes
    keys = {
        int(r.key) for r in read_webdataset_shards(spark, out).collect()
    }
    assert keys == set(range(40)) - {3, 17}


def test_text_only_and_foreign_member_raises(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _corpus(spark, n=6).select("doc_id", "text")
    write_webdataset_shards(df, out, n_shards=2)
    back = read_webdataset_shards(spark, out).collect()
    assert len(back) == 6
    assert all(r.bin is None and r.json is None for r in back)
    # plant a foreign member in one shard -> the reader must raise
    path = f"{out}/shard-00000.tar"
    with tarfile.open(path, "a") as tf:
        info = tarfile.TarInfo(name="intruder.exe")
        info.size = 3
        tf.addfile(info, io.BytesIO(b"bad"))
    with pytest.raises(Exception, match="unknown extension"):
        read_webdataset_shards(spark, out).collect()


def test_non_numeric_id_raises_loudly(spark, tmp_path):
    """A non-numeric id casts to NULL under the long cast; the tar
    task must raise naming the offending raw value (r10 ADVICE: the
    check rides the single export pass — no separate driver pre-scan
    that doubles source evaluation and can validate different data
    than the tasks read)."""
    df = spark.createDataFrame(
        [("doc-7", "body")], "doc_id string, text string"
    )
    with pytest.raises(Exception, match="doc-7"):
        write_webdataset_shards(
            df, str(tmp_path / "w"), n_shards=2, id_col="doc_id"
        )
    # numeric strings cast fine and still work
    ok = spark.createDataFrame(
        [("7", "body")], "doc_id string, text string"
    )
    write_webdataset_shards(ok, str(tmp_path / "ok"), n_shards=1,
                            id_col="doc_id")
    assert read_webdataset_shards(
        spark, str(tmp_path / "ok")
    ).count() == 1


# ------------------------------------------------- manifest-pointer commit


def test_manifest_commit_roundtrip_and_atomicity(spark, tmp_path):
    """commit='manifest': tars land in a .v{n} dir behind a
    _dir_manifest pointer; the reader resolves through it; a crash AT
    the pointer replace leaves the previous version fully readable
    (the test_commit_dir crash-injection play on the tar sink)."""
    from pathlib import Path

    from data_pipeline_project_using_telegram_and_aws_spark.sources import commit as cm

    out = str(tmp_path / "wds")
    df = _corpus(spark, n=20)
    m1 = write_webdataset_shards(
        df, out, n_shards=3, media_col="media", commit="manifest"
    ).collect()
    assert cm.manifest(out) == {"dir": ".v0"}
    assert not list(Path(out).glob("shard-*.tar"))  # nothing at root
    keys1 = {
        int(r.key) for r in read_webdataset_shards(spark, out).collect()
    }
    assert keys1 == set(range(20))

    # second export commits .v1 and sweeps .v0
    write_webdataset_shards(
        _corpus(spark, n=10), out, n_shards=3, media_col="media",
        commit="manifest",
    )
    assert cm.manifest(out) == {"dir": ".v1"}
    assert not (Path(out) / ".v0").exists()
    keys2 = {
        int(r.key) for r in read_webdataset_shards(spark, out).collect()
    }
    assert keys2 == set(range(10))

    # crash AT the pointer replace: old version stays committed
    real_replace = cm._replace

    def boom(src, dst):
        raise RuntimeError("injected crash at commit point")

    cm._replace = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            write_webdataset_shards(
                _corpus(spark, n=5), out, n_shards=3,
                media_col="media", commit="manifest",
            )
    finally:
        cm._replace = real_replace
    assert cm.manifest(out) == {"dir": ".v1"}  # pointer untouched
    assert {
        int(r.key) for r in read_webdataset_shards(spark, out).collect()
    } == set(range(10))
    # the dead run's version dir is swept by the next commit
    write_webdataset_shards(
        _corpus(spark, n=4), out, n_shards=3, media_col="media",
        commit="manifest",
    )
    vs = {d.name for d in Path(out).glob(".v*")}
    assert vs == {cm.manifest(out)["dir"]}


def test_manifest_commit_selective_reexport_carry_forward(spark, tmp_path):
    """Selective re-export under the pointer model: affected shards
    rebuilt from survivors, untouched shards carried forward
    byte-identically, erased keys gone — and an emptied shard can
    NEVER be resurrected because carrying is explicit."""
    out = str(tmp_path / "wds")
    df = _corpus(spark, n=40)
    write_webdataset_shards(
        df, out, n_shards=4, media_col="media", commit="manifest"
    )
    from data_pipeline_project_using_telegram_and_aws_spark.sources import commit as cm

    before = {
        s: open(f"{cm.resolve_dir(out)}/shard-{s:05d}.tar", "rb").read()
        for s in range(4)
    }
    erased = spark.createDataFrame([(3,), (17,)], "doc_id long")
    hit = [r.shard for r in affected_webdataset_shards(erased, 4).collect()]
    unaffected = sorted(set(range(4)) - set(hit))
    survivors = df.where(~F.col("doc_id").isin(3, 17))
    m = write_webdataset_shards(
        survivors.withColumn(
            "__s", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
        ).where(F.col("__s").isin(hit)).drop("__s"),
        out, n_shards=4, media_col="media",
        commit="manifest", carry_forward_shards=unaffected,
    ).collect()
    assert sorted(r.shard for r in m) == list(range(4))
    after = {
        s: open(f"{cm.resolve_dir(out)}/shard-{s:05d}.tar", "rb").read()
        for s in range(4)
    }
    for s in range(4):
        if s in hit:
            assert after[s] != before[s]
        else:
            assert after[s] == before[s]  # carried byte-identically
    keys = {
        int(r.key) for r in read_webdataset_shards(spark, out).collect()
    }
    assert keys == set(range(40)) - {3, 17}

    # guard rails: carrying an exported shard is ambiguous; carrying
    # under inplace mode is meaningless; carrying a shard with no
    # previous tar is an error
    with pytest.raises(ValueError, match="both"):
        write_webdataset_shards(
            survivors, out, n_shards=4, media_col="media",
            commit="manifest", carry_forward_shards=[0],
        )
    with pytest.raises(ValueError, match="inplace"):
        write_webdataset_shards(
            survivors, out, n_shards=4, media_col="media",
            carry_forward_shards=[0],
        )
    with pytest.raises(ValueError, match="no tar"):
        write_webdataset_shards(
            df.where(F.col("doc_id") < 0), str(tmp_path / "fresh"),
            n_shards=4, media_col="media",
            commit="manifest", carry_forward_shards=[9],
        )


def test_inplace_after_manifest_refused(spark, tmp_path):
    """Review fix: an inplace export into a pointer-managed directory
    would write tars the resolving reader never sees — refused."""
    out = str(tmp_path / "wds")
    write_webdataset_shards(
        _corpus(spark, n=6), out, n_shards=2, commit="manifest"
    )
    with pytest.raises(ValueError, match="manifest"):
        write_webdataset_shards(_corpus(spark, n=6), out, n_shards=2)
