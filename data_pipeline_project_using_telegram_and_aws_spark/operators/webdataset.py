"""WebDataset-style tar sharding for multimodal corpora — the wire
format multimodal training loaders actually consume (one POSIX tar per
shard; each sample is a group of files sharing a basename:
``<key>.txt``, ``<key>.bin``, ``<key>.json``, …). stdlib ``tarfile``
makes this honest: no external dependency, byte-exact round trips.

Reference analog: the raw zone's "keep original bytes, one object per
message" pattern (ipynb:330) — here packaged the way a GPU dataloader
wants it (big sequential tars, not millions of small objects).

Design, Spark-first:
- shard assignment is the SAME pure function of the id as
  `operators/packing.py` (``pmod(xxhash64(id), n_shards)``), so a
  sample's shard is recomputable from its id alone — erasure blast
  radius and selective re-export work exactly like packed-sequence
  shards (one broadcast join, only affected tars rewritten).
- within a shard, samples are laid out in md5(id) order — the same
  deterministic shuffle as packing, so re-exports are byte-identical
  regardless of upstream partitioning or row order.
- the write is one shuffle (``repartition`` on the shard id) +
  ``mapInPandas`` building each tar IN MEMORY per shard before a
  single atomic-rename publish per file (tars are append-only
  formats; a half-written tar is unreadable, so staging + rename is
  load-bearing, not hygiene). Shard size is therefore bounded by
  executor memory — size ``n_shards`` so shards land in the hundreds
  of MB, the same sizing rule WebDataset itself recommends.
- the read is ``spark.read.format("binaryFile")`` over the tars +
  ``mapInPandas`` untar — each tar is one row into Python, each
  sample one row out; no driver involvement, shards read in parallel.

Tar determinism: fixed mtime=0, uid/gid=0, USTAR format — the same
content always produces the same bytes, so shard content hashes are
stable across runs and engines (the `packing.py` manifest doctrine).

Publish protocols (``commit=``):

- ``"inplace"`` (default, the historical behavior): each task stages
  its tar and ``os.replace``s it into ``out_dir`` — per-shard
  atomicity only, correct where executors share the driver's
  filesystem (local mode, NFS, FUSE-mounted object store) AND readers
  tolerate a mid-export mix of old and new tars.
- ``"manifest"``: the `sources/commit.py` pointer model — tasks write
  every tar into a fresh ``.v{n}`` directory nothing points at, then
  ONE atomic ``_dir_manifest`` replace publishes the whole shard set.
  A crash leaves the old pointer (old tars, fully readable) or the
  new one — no torn export is ever visible. On a real object store
  the version-dir writes are plain PUTs and the pointer replace is a
  single-key PUT — no rename anywhere. Readers resolve through
  `sources.commit.resolve_dir` (`read_webdataset_shards` does).
  Selective re-export needs the untouched shards carried into the new
  version explicitly: pass ``carry_forward_shards`` (server-side copy
  on an object store); carrying is explicit, never inferred, so an
  erasure pass that empties a shard can never resurrect its old tar.
"""

from __future__ import annotations

import hashlib
import io
import json
import tarfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

SHARD_MANIFEST_DDL = "shard int, n_samples long, n_bytes long, sha256 string"
SAMPLE_DDL_PREFIX = "shard int, key string"


def _tar_bytes(samples: list[tuple[str, dict[str, bytes]]]) -> bytes:
    """samples: [(key, {ext: payload_bytes})] in final order → one
    deterministic USTAR archive."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for key, parts in samples:
            for ext in sorted(parts):
                payload = parts[ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    media_col: str | None = None,
    meta_cols: list[str] | None = None,
    commit: str = "inplace",
    carry_forward_shards: list[int] | None = None,
) -> DataFrame:
    """Export (id, text?, media?, meta…) rows as ``shard-%05d.tar``
    files under ``out_dir`` plus a returned manifest DataFrame
    (shard, n_samples, n_bytes, sha256) — the integrity record the
    packing manifests set the pattern for. Per sample the tar carries
    ``<key>.txt`` (utf-8 text), ``<key>.bin`` (media bytes), and
    ``<key>.json`` (the meta columns), key = zero-padded id. Columns
    that are None/absent are simply omitted from the sample.

    One shuffle (the shard hash); each shard tar is built in one task
    and published per the chosen ``commit`` protocol (module
    docstring): ``"inplace"`` per-shard replace, ``"manifest"`` the
    all-or-nothing pointer swap with optional ``carry_forward_shards``
    copied from the previous committed version (selective re-export).
    This is a SINK: it executes eagerly (a lazily-returned plan whose
    side effect nobody triggers would silently write nothing) and
    returns the manifest materialized."""
    import os
    import shutil

    if n_shards < 1:
        raise ValueError(f"write_webdataset_shards: n_shards={n_shards}")
    if commit not in ("inplace", "manifest"):
        raise ValueError(
            f"write_webdataset_shards: commit must be inplace | "
            f"manifest, got {commit!r}"
        )
    if carry_forward_shards and commit != "manifest":
        raise ValueError(
            "write_webdataset_shards: carry_forward_shards only makes "
            "sense with commit='manifest' (inplace leaves untouched "
            "tars in place natively)"
        )
    meta_cols = list(meta_cols or [])
    # try_cast, not cast: under ANSI mode a plain cast throws an
    # opaque NumberFormatException mid-scan; __raw rides along so the
    # tar task can raise naming the offending value — validation in
    # the ONE existing pass, over exactly the rows the tar is built
    # from (a separate pre-scan would double source evaluation and,
    # on a nondeterministic input, validate different data)
    cols = [
        F.col(id_col).try_cast("long").alias("__id"),
        F.col(id_col).cast("string").alias("__raw"),
    ]
    if text_col is not None:
        cols.append(F.col(text_col).alias("__text"))
    if media_col is not None:
        cols.append(F.col(media_col).alias("__media"))
    cols += [F.col(c) for c in meta_cols]
    slim = df.select(*cols).withColumn(
        "__shard",
        F.pmod(F.xxhash64("__id"), F.lit(n_shards)).cast("int"),
    )

    def _export_into(target_dir: str) -> list:
        def build(batches):
            # accumulate the WHOLE partition first: a shard's rows may
            # span multiple Arrow batches, and a tar must be built from
            # all of them (per-batch tars would silently overwrite)
            acc: dict[int, list] = {}
            for batch in batches:
                has_text = "__text" in batch.columns
                has_media = "__media" in batch.columns
                for _, row in batch.iterrows():
                    if pd.isna(row["__id"]):
                        raise ValueError(
                            f"write_webdataset_shards: id value "
                            f"{row['__raw']!r} is not integral (casts "
                            "to NULL); shard keys must be integral ids"
                        )
                    key = f"{int(row['__id']):012d}"
                    parts: dict[str, bytes] = {}
                    if has_text and row["__text"] is not None:
                        parts["txt"] = str(row["__text"]).encode("utf-8")
                    if has_media and row["__media"] is not None:
                        parts["bin"] = bytes(row["__media"])
                    if meta_cols:
                        meta = {
                            c: (None if pd.isna(row[c]) else row[c])
                            for c in meta_cols
                        }
                        parts["json"] = json.dumps(
                            meta, sort_keys=True, default=str
                        ).encode("utf-8")
                    acc.setdefault(int(row["__shard"]), []).append(
                        (hashlib.md5(key.encode()).hexdigest(), key, parts)
                    )
            for shard in sorted(acc):
                samples = sorted(acc[shard])  # md5(key): deterministic
                tar = _tar_bytes([(k, p) for _, k, p in samples])
                final = os.path.join(
                    target_dir, f"shard-{shard:05d}.tar"
                )
                tmp = final + ".__tmp"
                with open(tmp, "wb") as f:
                    f.write(tar)
                os.replace(tmp, final)  # atomic publish per shard
                yield pd.DataFrame(
                    [
                        {
                            "shard": shard,
                            "n_samples": len(samples),
                            "n_bytes": len(tar),
                            "sha256": hashlib.sha256(tar).hexdigest(),
                        }
                    ]
                )

        # one task per shard: every row of a shard must meet together
        lazy = slim.repartition(n_shards, "__shard").mapInPandas(
            build, SHARD_MANIFEST_DDL
        )
        # the action IS the export; result is shard-count-sized
        return [r.asDict() for r in lazy.collect()]

    if commit == "inplace":
        from ..sources.commit import manifest

        if manifest(out_dir) is not None:
            # an inplace export into a pointer-managed directory
            # would write tars the resolving reader never sees
            raise ValueError(
                "write_webdataset_shards: out_dir is migrated to "
                "manifest commits — an inplace export would leave two "
                "competing truths. Pass commit='manifest'."
            )
        # per-shard atomicity ONLY: a failed export (including the
        # in-task non-integral-id raise) leaves a mix of new and stale
        # tars; use commit='manifest' for all-or-nothing publishes
        os.makedirs(out_dir, exist_ok=True)
        rows = _export_into(out_dir)
        return df.sparkSession.createDataFrame(rows, SHARD_MANIFEST_DDL)

    from ..sources.commit import commit_dir, resolve_dir

    carry = sorted(set(carry_forward_shards or []))
    prev_dir = resolve_dir(out_dir) if os.path.isdir(out_dir) else None
    holder: dict[str, list] = {}

    def write_fn(target: str) -> None:
        os.makedirs(target, exist_ok=True)
        rows = _export_into(target)
        exported = {r["shard"] for r in rows}
        for s in carry:
            if s in exported:
                raise ValueError(
                    f"write_webdataset_shards: shard {s} is both "
                    "exported this run and listed in "
                    "carry_forward_shards — carrying would be "
                    "ambiguous"
                )
            src = (
                os.path.join(prev_dir, f"shard-{s:05d}.tar")
                if prev_dir
                else None
            )
            if src is None or not os.path.exists(src):
                raise ValueError(
                    f"write_webdataset_shards: carry_forward shard "
                    f"{s} has no tar in the previous version"
                )
            dst = os.path.join(target, f"shard-{s:05d}.tar")
            shutil.copyfile(src, dst)  # object store: server-side copy
            blob = open(dst, "rb").read()
            with tarfile.open(fileobj=io.BytesIO(blob), mode="r") as tf:
                n = len({m.name.rsplit(".", 1)[0] for m in tf.getmembers()})
            rows.append(
                {
                    "shard": s,
                    "n_samples": n,
                    "n_bytes": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            )
        holder["rows"] = sorted(rows, key=lambda r: r["shard"])

    commit_dir(out_dir, write_fn)
    return df.sparkSession.createDataFrame(
        holder["rows"], SHARD_MANIFEST_DDL
    )


def read_webdataset_shards(
    spark: SparkSession, out_dir: str
) -> DataFrame:
    """The inverse: every sample from every shard tar as (shard, key,
    txt, bin, json) rows — binaryFile scan (shards read in parallel,
    partition-pruned by path like any file source) + per-tar untar in
    ``mapInPandas``. Missing parts are NULL; unknown extensions raise
    naming the member (a foreign file in a shard is a data defect).
    Resolves through `sources.commit.resolve_dir`, so it reads the
    committed version of a manifest-mode export and the directory
    itself otherwise."""
    from ..sources.commit import resolve_dir

    files = spark.read.format("binaryFile").load(
        resolve_dir(out_dir) + "/shard-*.tar"
    )

    def untar(batches):
        for batch in batches:
            out = []
            for path, content in zip(batch["path"], batch["content"]):
                name = path.rsplit("/", 1)[-1]
                shard = int(name[len("shard-"):-len(".tar")])
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(content)), mode="r"
                ) as tf:
                    samples: dict[str, dict] = {}
                    for m in tf.getmembers():
                        if "." not in m.name:
                            raise ValueError(
                                f"webdataset member {m.name!r} has no "
                                "extension"
                            )
                        key, ext = m.name.rsplit(".", 1)
                        if ext not in ("txt", "bin", "json"):
                            raise ValueError(
                                f"webdataset member {m.name!r} has "
                                f"unknown extension {ext!r}"
                            )
                        samples.setdefault(key, {})[ext] = tf.extractfile(
                            m
                        ).read()
                for key in sorted(samples):
                    parts = samples[key]
                    out.append(
                        {
                            "shard": shard,
                            "key": key,
                            "txt": (
                                parts["txt"].decode("utf-8")
                                if "txt" in parts
                                else None
                            ),
                            "bin": bytearray(parts["bin"])
                            if "bin" in parts
                            else None,
                            "json": (
                                parts["json"].decode("utf-8")
                                if "json" in parts
                                else None
                            ),
                        }
                    )
            yield pd.DataFrame(
                out, columns=["shard", "key", "txt", "bin", "json"]
            )

    return files.mapInPandas(
        untar, "shard int, key string, txt string, bin binary, json string"
    )


def affected_webdataset_shards(
    erased_ids: DataFrame, n_shards: int, id_col: str = "doc_id"
) -> DataFrame:
    """Erasure blast radius, the packing-module contract: shard id is
    a pure function of the id, so the affected-tar set is one
    projection of the erased ids — re-export exactly these shards
    (call `write_webdataset_shards` on the surviving rows filtered to
    them) and no others."""
    return (
        erased_ids.select(
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_shards))
            .cast("int")
            .alias("shard")
        )
        .distinct()
        .orderBy("shard")
    )
