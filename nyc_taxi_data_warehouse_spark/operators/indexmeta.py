"""Sidecar metadata for persisted index tables (ANN / IVF / postings).

A persisted index bakes its build dials into the rows on disk —
hyperplane count and vector dim (the LSH codes), table count (the
``tbl=`` layout), hash-partition count (the postings bucket hash),
centroid positions (the IVF cells). Querying with DIFFERENT dials does
not error: probe masks of the wrong width, a different bucket hash, or
moved centroids just return quietly wrong or empty candidates. The
sidecar makes that failure loud: every index writer records its dials
in ``<index>/_meta.json`` and every reader validates against it,
failing fast on a mismatch.

The sidecar goes through the Hadoop FileSystem API resolved from the
index path itself, so it lands next to the data on whatever storage the
Spark write targeted (``file://``, ``hdfs://``, ``s3a://``) — never a
driver-local path assumption. Underscore-prefixed files are invisible
to parquet scans, so the sidecar never pollutes index reads.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

META_FILE = "_meta.json"


class IndexMetaError(ValueError):
    """The index on disk was built with different dials (or no sidecar)."""


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath


def write_index_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Write (overwrite) the ``_meta.json`` sidecar inside the index dir."""
    jvm, fs, hpath = _fs_and_path(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(hpath, META_FILE), True)
    try:
        out.write(json.dumps(meta, sort_keys=True).encode("utf-8"))
    finally:
        out.close()


def read_index_meta(spark: SparkSession, path: str) -> dict | None:
    """Read the sidecar; None if the index predates sidecars."""
    jvm, fs, hpath = _fs_and_path(spark, path)
    meta_path = jvm.org.apache.hadoop.fs.Path(hpath, META_FILE)
    if not fs.exists(meta_path):
        return None
    stream = fs.open(meta_path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def check_index_meta(spark: SparkSession, path: str, expected: dict) -> None:
    """Fail fast unless every expected dial matches the sidecar.

    A missing sidecar is also an error: the engine's writers always
    produce one, so its absence means the path is not an index this
    engine wrote (or the write was torn).
    """
    meta = read_index_meta(spark, path)
    if meta is None:
        raise IndexMetaError(
            f"{path}: no {META_FILE} sidecar — not an index written by this "
            "engine (or a torn write); rebuild the index"
        )
    diffs = {
        k: (meta.get(k), v) for k, v in expected.items() if meta.get(k) != v
    }
    if diffs:
        detail = ", ".join(
            f"{k}: index has {got!r}, caller passed {want!r}"
            for k, (got, want) in sorted(diffs.items())
        )
        raise IndexMetaError(
            f"{path}: index dial mismatch ({detail}) — query with the "
            "build-time dials or rebuild the index"
        )


def read_index_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """Read an index's parquet rows, tolerating the ZERO-FILE layout.

    An index bootstrapped from an empty table version (the ``sync_*``
    docstrings' recommended cursor-first setup) has a ``_meta.json``
    sidecar but zero parquet footers — partitioned writes of zero rows
    emit no files — so a bare ``spark.read.parquet`` crashes with
    UNABLE_TO_INFER_SCHEMA; a data directory torn away entirely (a
    crashed prune mid-rewrite) crashes with PATH_NOT_FOUND. With
    ``schema`` (StructType or DDL string) both fall back to a
    typed-empty frame; without it, returns ``None`` so delete-style
    callers can early-out. One shared implementation for the
    ANN/IVF/postings/bloom readers, so the bootstrap contract cannot
    drift per index kind.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "UNABLE_TO_INFER_SCHEMA" not in msg and "PATH_NOT_FOUND" not in msg:
            raise
        if schema is None:
            return None
        return spark.createDataFrame([], schema)


def delete_partition_dirs(spark: SparkSession, path: str, dirs: list[str]) -> None:
    """Remove emptied partition directories after an index delete.

    Dynamic partition overwrite replaces only partitions PRESENT in the
    written data — a partition whose every row was deleted produces no
    output rows, so its directory (with the stale rows) would survive
    the overwrite. The delete operators detect emptied partitions and
    drop their directories through the Hadoop FileSystem API (works on
    file://, hdfs://, s3a:// — wherever the index lives)."""
    jvm, fs, hpath = _fs_and_path(spark, path)
    for d in dirs:
        fs.delete(jvm.org.apache.hadoop.fs.Path(hpath, d), True)


def compact_index(
    spark: SparkSession, path: str, target_mb: int = 64
) -> dict:
    """Defragment a persisted index in place, ``_meta.json`` preserved.

    Every incremental maintenance batch (``append_to_ann_index``,
    ``upsert_ivf_cells``, postings upserts, ``append_to_bloom_index``)
    adds files to the cell/term/table partitions it touches; after N
    ingest cycles the index fragments — one task and one footer read
    per tiny file at probe time. This is the standing
    repair job, shared by all index kinds: the layout is discovered
    from the directory names, so ANN (``tbl=``), IVF (``cell=``),
    postings (``term=``/``term_bkt=``) and unpartitioned (bloom)
    indexes all compact through the same code.

    Partitioned layouts rewrite to ``k`` files per partition directory
    where ``k = ceil(avg_dir_bytes / target_mb)`` — one file per cell
    or term for the many-small-dirs layouts (IVF cells, postings
    terms), several for the few-big-dirs ones (an ANN ``tbl=`` dir
    holds the whole corpus once, far over any single-file target). The
    split is a deterministic hash salt over the row's content, so each
    value's rows land in exactly ``k`` tasks. Unpartitioned layouts
    rewrite to ``ceil(bytes/target_mb)`` files (``repartition``, not
    ``coalesce``: coalesce is bounded by the scan's split count and can
    silently under-shoot the target).

    The rewrite is scoped STATIC, so a shrinking layout leaves no stale
    directories, and the sidecar is re-written after the data (a crash
    between the two leaves an index whose readers fail fast on the
    missing sidecar instead of probing a torn layout — the
    ``check_index_meta`` contract, by design). Lookups are unchanged:
    rows are moved, never altered.

    Returns ``{"files_before", "files_after", "bytes"}``.
    """
    from pyspark.sql import functions as F

    from ..session import static_partition_overwrite

    meta = read_index_meta(spark, path)
    if meta is None:
        raise IndexMetaError(
            f"{path}: no {META_FILE} sidecar — refusing to compact a "
            "directory this engine did not write"
        )
    if meta.get("kind") == "bloom" and meta.get("scope") == "snapshot":
        # Snapshot-bloom keeps its rows under rows/ so the reconcile
        # prune can overwrite data without ever touching the sidecar
        # (crash-safe sync); compact that subtable, sidecar untouched.
        return _compact_flat_dir(spark, f"{path}/rows", target_mb)
    if meta.get("kind") == "minhash":
        # The minhash index is TWO subtables with different schemas
        # (buckets/, shingles/) under one sidecar; a root-level
        # read+overwrite would merge the schemas and flatten the
        # layout. Compact each subtable independently.
        out = {"files_before": 0, "files_after": 0, "bytes": 0}
        for sub in ("buckets", "shingles"):
            r = _compact_flat_dir(spark, f"{path}/{sub}", target_mb)
            for k in out:
                out[k] += r[k]
        write_index_meta(spark, path, meta)
        return out
    jvm, fs, hpath = _fs_and_path(spark, path)
    part_col = None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            part_col = name.split("=", 1)[0]
            break
    n_before, total, n_dirs = 0, 0, 0
    for st in fs.listStatus(hpath):
        if st.isDirectory() and "=" in st.getPath().getName():
            n_dirs += 1
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n_before += 1
        total += f.getLen()
    df = spark.read.parquet(path)
    if part_col is not None:
        avg_dir = total / max(n_dirs, 1)
        k = max(1, -(-int(avg_dir) // (target_mb * 2**20)))
        data_cols = [c for c in df.columns if c != part_col]
        salt = F.pmod(F.xxhash64(*data_cols), F.lit(k))
        compacted = df.repartition(
            max(n_dirs * k, 1), F.col(part_col), salt
        )
    else:
        n_target = max(1, -(-total // (target_mb * 2**20)))
        compacted = df.repartition(n_target)
    # the write replaces the directory the plan reads from — cut the
    # lineage first
    compacted = compacted.localCheckpoint(eager=True)
    writer = compacted.write.mode("overwrite")
    if part_col is not None:
        writer = writer.partitionBy(part_col)
    with static_partition_overwrite(spark):
        writer.parquet(path)
    write_index_meta(spark, path, meta)
    n_after = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n_after += 1
    return {"files_before": n_before, "files_after": n_after, "bytes": total}


def _compact_flat_dir(spark, dir_path: str, target_mb: int) -> dict:
    """Rewrite one unpartitioned parquet directory to
    ceil(bytes/target) files (repartition, not coalesce — see
    ``compact_index``). Shared by the minhash subtable path."""
    jvm, fs, hpath = _fs_and_path(spark, dir_path)
    n_before, total = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().startswith(("_", ".")):
            continue
        n_before += 1
        total += f.getLen()
    if n_before == 0:  # zero-file bootstrap layout: nothing to move
        return {"files_before": 0, "files_after": 0, "bytes": 0}
    df = spark.read.parquet(dir_path)
    n_target = max(1, -(-total // (target_mb * 2**20)))
    compacted = df.repartition(n_target).localCheckpoint(eager=True)
    compacted.write.mode("overwrite").parquet(dir_path)
    n_after = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        if not it.next().getPath().getName().startswith(("_", ".")):
            n_after += 1
    return {"files_before": n_before, "files_after": n_after, "bytes": total}


def centroid_fingerprint(
    centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Order-independent digest of a (tiny, broadcast-sized) centroid set.

    Written into the IVF sidecar at build time and recomputed from the
    caller's centroids at probe time, so probing a stale index after
    centroids moved (the rebuild case the IVF docstring warns about)
    fails fast instead of returning wrong candidates. Components are
    rounded to 6 decimals — the same precision the engine's cosine
    scoring rounds to — so re-derived centroids hash identically.
    """
    rows = centroids.select(id_col, vec_col).orderBy(id_col).collect()
    h = hashlib.md5()
    for r in rows:
        h.update(str(r[id_col]).encode())
        for x in r[vec_col] or []:
            h.update(f"{float(x):.6f}".encode())
    return h.hexdigest()
