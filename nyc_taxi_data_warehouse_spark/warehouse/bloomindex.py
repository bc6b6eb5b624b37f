"""Per-file Bloom data-skipping index — point lookups on NON-layout
columns.

The layout tools cover range predicates: ``write_sorted`` (one column)
and ``write_zordered`` (several) put row-group min/max fences around the
clustered keys, and scans measurably skip. A POINT lookup on a column
the layout was not built for (``user_id`` in a time-partitioned fact
table — the "find this user's rows" audit query) still scans every
file. The standard answer is a Bloom summary per file: tiny, mergeable,
no false negatives.

Index = plain rows, like ``operators/sketches.py``: per data file, an
m-bit Bloom filter stored as ``ceil(m/64)`` longs — ``(file, word,
bits)`` — built in ONE distributed pass: each row emits its key's k
(word, bitmask) pairs via ``_metadata.file_path`` (no per-file jobs),
then ``groupBy(file, word).agg(bit_or)``. The index is itself a parquet
table with a ``_meta.json`` dial sidecar (same fail-fast contract as
the ANN/IVF/postings indexes).

Lookup: a key's k positions are fixed, so candidate files are those
whose stored words cover every probe mask. The probe reads ONLY the
needed words (pushed filter on ``word``), evaluates the cover test as
an aggregation, and returns the file list — metadata-sized end to end.
``read_with_bloom`` then scans just those files (plus the residual
predicate, since Bloom hits can be false positives — never false
negatives).

Sizing: m=65536, k=7 ≈ 1% false positives at ~6.5k distinct keys per
file; 8 KiB of index per data file — at 100 TB / 256 MB files that is
~3 MB of index per TB, trivially broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexmeta import (
    check_index_meta,
    read_index_meta,
    read_index_parquet,
    write_index_meta,
)
from ..session import local_frame

_ROWS_DDL = "file string, word int, bits long"

# Coverage sentinel: every indexed file gets one (file, -1, 0) row even
# when it contributes no real Bloom rows (all-NULL keys, or a file that
# predates the key column). Probe words are always >= 0, so sentinels
# can never produce a candidate — but they DO record the file as
# covered, so the read-path coverage check and the sync reconcile
# converge instead of treating such files as forever-unindexed.
_SENTINEL_WORD = -1


def _sentinels(files_df: DataFrame) -> DataFrame:
    """One (file, -1, 0) coverage row per distinct file."""
    return files_df.select(
        F.col("file"),
        F.lit(_SENTINEL_WORD).cast("int").alias("word"),
        F.lit(0).cast("long").alias("bits"),
    )


def _data_path(index_path: str, meta: dict | None) -> str:
    """Where the (file, word, bits) rows live. The snapshot variant
    keeps them under ``rows/`` so the reconcile prune can overwrite
    data without ever touching the ``_meta.json`` sidecar at the root
    (a crash mid-prune then leaves a PARTIAL rows table the next sync
    completes, instead of a sidecar-less directory every reader
    rejects)."""
    if meta is not None and meta.get("scope") == "snapshot":
        return f"{index_path}/rows"
    return index_path


def _probe_pairs(key, m_bits: int, k: int):
    """The k (word, mask) pairs for a key: position i = xxhash64(i, key)
    mod m; word = pos / 64, mask = 1 << (pos % 64)."""
    out = []
    for i in range(k):
        pos = F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits))
        out.append(
            (
                (pos / 64).cast("int"),
                # SQL shiftleft takes a column shift amount; the Python
                # wrapper insists on an int literal
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                ),
            )
        )
    return out


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    index_path: str,
    m_bits: int = 65536,
    k: int = 7,
) -> int:
    """One pass over the table -> ``(file, word, bits)`` rows at
    ``index_path`` + dial sidecar. Returns indexed file count."""
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    src = spark.read.parquet(table_path)
    # xxhash64 hashes the PHYSICAL type (int vs long vs string give
    # different bits for the "same" value), so the probe side must cast
    # to exactly this type — record it in the sidecar.
    key_type = src.schema[key_col].dataType.simpleString()
    df = src.select(
        F.col(key_col).alias("_k"),
        F.col("_metadata.file_path").alias("file"),
    )
    pairs = F.array(
        *[
            F.struct(w.alias("word"), msk.alias("mask"))
            for w, msk in _probe_pairs(F.col("_k"), m_bits, k)
        ]
    )
    idx = (
        df.where(F.col("_k").isNotNull())
        .select("file", F.explode(pairs).alias("p"))
        .groupBy("file", F.col("p.word").alias("word"))
        .agg(F.bit_or("p.mask").alias("bits"))
        .unionByName(_sentinels(df.select("file").distinct()))
    )
    idx.write.mode("overwrite").parquet(index_path)
    write_index_meta(
        spark,
        index_path,
        {
            "kind": "bloom",
            "key_col": key_col,
            "key_type": key_type,
            "m_bits": m_bits,
            "k": k,
        },
    )
    return spark.read.parquet(index_path).select("file").distinct().count()


def bloom_candidate_files(
    spark: SparkSession,
    index_path: str,
    key_col: str,
    values: list,
    m_bits: int = 65536,
    k: int = 7,
) -> list[str]:
    """Files that MAY contain any of ``values`` (no false negatives).
    The scan of the index is pruned to the probed words only."""
    if not values:
        return []
    # Dedupe probe VALUES (duplicates would double the per-(file,_k)
    # probe rows and make the n==k cover test reject real matches) —
    # but never the probe ROWS: identical (word, mask) pairs from an
    # intra-key position collision must still count k times.
    values = list(dict.fromkeys(values))
    check_index_meta(
        spark,
        index_path,
        {"kind": "bloom", "key_col": key_col, "m_bits": m_bits, "k": k},
    )
    meta = read_index_meta(spark, index_path) or {}
    key_type = meta.get("key_type")
    if key_type is None:
        raise ValueError(
            f"{index_path}: sidecar lacks key_type — rebuild the index "
            "(probe hashing is type-sensitive; guessing risks silent "
            "false negatives)"
        )
    # the probe column's type is inferred from the values (Spark's own
    # row inference), then cast to the indexed type
    rows = [(v,) for v in values]
    probes = local_frame(
        spark, rows, spark._inferSchemaFromList(rows, names=["_k"])
    ).select(
        F.col("_k").cast(key_type).alias("_k")
    )
    if probes.where(F.col("_k").isNull()).limit(1).count():
        raise ValueError(
            f"probe values do not cast cleanly to indexed type {key_type}"
        )
    pairs = F.array(
        *[
            F.struct(w.alias("word"), msk.alias("mask"))
            for w, msk in _probe_pairs(F.col("_k"), m_bits, k)
        ]
    )
    needed = probes.select(F.col("_k"), F.explode(pairs).alias("p")).select(
        "_k", F.col("p.word").alias("word"), F.col("p.mask").alias("mask")
    )
    words = [r.word for r in needed.select("word").distinct().collect()]
    idx = read_index_parquet(
        spark, _data_path(index_path, meta), _ROWS_DDL
    ).where(F.col("word").isin(words))
    # a file covers a key iff ALL k probe bits are set in its words
    hit = (
        needed.join(F.broadcast(idx), "word")
        .withColumn(
            "_ok",
            (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")).cast(
                "int"
            ),
        )
        .groupBy("file", "_k")
        .agg(F.sum("_ok").alias("n_ok"), F.count(F.lit(1)).alias("n"))
        .where((F.col("n") == k) & (F.col("n_ok") == k))
    )
    return sorted({r.file for r in hit.select("file").distinct().collect()})


def read_with_bloom(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    key_col: str,
    values: list,
    m_bits: int = 65536,
    k: int = 7,
) -> DataFrame:
    """The point-lookup: scan only Bloom-candidate files, then apply
    the exact residual predicate (Bloom false positives filtered here;
    false negatives impossible by construction). An empty candidate set
    short-circuits to an empty typed DataFrame without touching data."""
    from urllib.parse import unquote

    files = bloom_candidate_files(
        spark, index_path, key_col, values, m_bits, k
    )
    schema = spark.read.parquet(table_path).schema
    if not files:
        return local_frame(spark, [], schema)
    # candidate keys are _metadata.file_path strings (URI-encoded:
    # space → %20); Hadoop Path(String) wants the DECODED form, so
    # percent-decode before reading (unquote, NOT form-decoding — a
    # literal '+' must stay '+')
    return (
        spark.read.option("basePath", table_path)
        .parquet(*[unquote(f) for f in files])
        .where(F.col(key_col).isin(values))
        .select(*[f.name for f in schema.fields])
    )


def append_to_bloom_index(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    key_col: str,
    m_bits: int = 65536,
    k: int = 7,
) -> int:
    """Index only data files the index has not seen (monthly loads,
    streaming appends) — the same incremental-maintenance contract as
    the ANN/IVF/postings indexes: a growing table never pays a full
    rebuild. Data files are immutable once written (every write path
    here creates new files), so per-file Bloom rows never go stale;
    re-running after a partial failure is idempotent (already-indexed
    files are skipped). Returns newly indexed file count."""
    src = spark.read.parquet(table_path)
    check_index_meta(
        spark,
        index_path,
        {
            "kind": "bloom",
            "key_col": key_col,
            "key_type": src.schema[key_col].dataType.simpleString(),
            "m_bits": m_bits,
            "k": k,
        },
    )
    indexed = spark.read.parquet(index_path).select("file").distinct()
    df = src.select(
        F.col(key_col).alias("_k"),
        F.col("_metadata.file_path").alias("file"),
    )
    fresh = df.join(F.broadcast(indexed), "file", "left_anti")
    pairs = F.array(
        *[
            F.struct(w.alias("word"), msk.alias("mask"))
            for w, msk in _probe_pairs(F.col("_k"), m_bits, k)
        ]
    )
    add = (
        fresh.where(F.col("_k").isNotNull())
        .select("file", F.explode(pairs).alias("p"))
        .groupBy("file", F.col("p.word").alias("word"))
        .agg(F.bit_or("p.mask").alias("bits"))
        # sentinel rows mark even all-NULL-key files as covered, so they
        # are not rescanned on every later append
        .unionByName(_sentinels(fresh.select("file").distinct()))
        .localCheckpoint(eager=True)  # cut lineage off the index scan
    )
    n_new = add.select("file").distinct().count()
    if n_new:
        add.write.mode("append").parquet(index_path)
    return n_new


# --------------------------------------------------------------------------
# Snapshot-table variant: Bloom skipping that respects the manifest.
#
# The path-based index above must NOT be pointed at a snapshot table
# root: a raw directory read sees every commit dir ever written, so it
# would index files REMOVED from the manifest — and a later candidate
# scan of those files resurrects deleted/updated rows (or crashes on
# vacuumed paths). The snapshot variant keys the index by manifest
# RELPATH and reconciles against the manifest file list, which is the
# natural maintenance grain here: data files are immutable, so a file's
# Bloom rows are forever right; the only drift is WHICH files are live.
# Reconciliation (`sync_bloom_with_snapshot`) is stateless against the
# latest manifest — no cursor, idempotent, cost ∝ changed files.


def _bloom_rows_for_files(
    spark: SparkSession,
    table_path: str,
    files: list[str],
    key_col: str,
    key_type: str,
    m_bits: int,
    k: int,
) -> DataFrame:
    """(file=relpath, word, bits) Bloom rows for an explicit manifest
    file list — ONE distributed pass, file identity recovered from
    ``_metadata.file_path`` (greedy leading .*/ pins the commit dir's
    ``data/<hex32>/``; see snapshots._read_file_list_flat). The key is
    read UNDER THE MANIFEST TYPE (recorded in the sidecar) so probe
    hashing matches even when older files stored a narrower physical
    type; files that predate the column surface it as NULL and
    contribute no REAL rows (correct — their rows can never equal a
    probe) but still get a coverage sentinel, so the read-path coverage
    check and the sync reconcile see them as indexed.

    Output ``file`` keys are RAW manifest relpaths: ``_metadata.
    file_path`` is URI-encoded (space → %20), so real rows are mapped
    back through a broadcast (encoded → raw) lookup to byte-match the
    sentinels and the manifest — otherwise files under URI-escapable
    partition values desync the candidate∩live intersection and the
    sync reconcile forever."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string
    from .snapshots import _relpath_from_file_path, _root, _uri_encode_relpath

    table_path = _root(table_path)  # accept 'table#branch' refs
    if not files:
        return local_frame(spark, [], _ROWS_DDL)
    schema = StructType([StructField(key_col, _parse_datatype_string(key_type))])
    src = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(*[f"{table_path}/{f}" for f in files])
    )
    raw = F.broadcast(
        local_frame(
            spark,
            [(_uri_encode_relpath(f), f) for f in files],
            "_enc string, file string",
        )
    )
    # LEFT join + raise on a miss: an inner join would silently drop an
    # unmapped file's real rows while its sentinel (raw relpath, below)
    # still marked it covered — Bloom false negatives. Encoding drift
    # must fail loudly at index-build time instead. The raise lives IN
    # the file column so pruning can never optimize the check away.
    df = (
        src.select(
            F.col(key_col).alias("_k"),
            _relpath_from_file_path(F.col("_metadata.file_path")).alias(
                "_enc"
            ),
        )
        .join(raw, "_enc", "left")
        .withColumn(
            "file",
            F.when(F.col("file").isNull(), F.raise_error(F.concat(
                F.lit("bloom scan path matches no manifest relpath "
                      "(_uri_encode_relpath drifted from Spark's "
                      "_metadata.file_path encoding): "),
                F.col("_enc"),
            ))).otherwise(F.col("file")),
        )
    )
    pairs = F.array(
        *[
            F.struct(w.alias("word"), msk.alias("mask"))
            for w, msk in _probe_pairs(F.col("_k"), m_bits, k)
        ]
    )
    sentinels = local_frame(
        spark, [(f, _SENTINEL_WORD, 0) for f in files], _ROWS_DDL
    )  # driver-sized: one row per manifest relpath, same order as the
    # manifest itself
    return (
        df.where(F.col("_k").isNotNull())
        .select("file", F.explode(pairs).alias("p"))
        .groupBy("file", F.col("p.word").alias("word"))
        .agg(F.bit_or("p.mask").alias("bits"))
        .unionByName(sentinels)
    )


def _refuse_defaulted_key(
    man: dict, pkey: str, logical: str | None = None
) -> None:
    """Shared guard on EVERY snapshot-bloom entry point (build, sync,
    read): a key column carrying an INITIAL default has live files
    with no physical values to index — sync would give them coverage
    sentinels only, and a candidate list would silently miss their
    (defaulted) rows, breaking the no-false-negatives contract. The
    state can also RE-ENTER after a build (restore below the
    materializing compact, publish of a defaulted branch), which is
    why build-time-only checking is not enough."""
    if pkey in (man.get("defaults") or {}):
        raise ValueError(
            f"{logical or pkey!r} carries an INITIAL default — files "
            "written before the column existed have no physical values "
            "to index, so a Bloom candidate list would silently miss "
            "their (defaulted) rows; rewrite the table "
            "(snapshot_compact materializes the default) first"
        )


def build_snapshot_bloom_index(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    index_path: str,
    m_bits: int = 65536,
    k: int = 7,
) -> int:
    """Bloom-index the LATEST manifest's live files of a snapshot
    table. Keys that are partition columns refuse — partition pruning
    already serves those lookups, and partitioned files do not store
    the column."""
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    from pyspark.sql.types import StructType

    from .snapshots import _manifest_at

    version, man = _manifest_at(table_path)
    pcols = man.get("partition_cols") or []
    if key_col in pcols:
        raise ValueError(
            f"{key_col!r} is a partition column — partition pruning "
            "already skips files for it; Bloom-index a non-layout column"
        )
    schema = StructType.fromJson(man["schema"])
    key_type = schema[key_col].dataType.simpleString()
    from .snapshots import _phys

    _refuse_defaulted_key(man, _phys(man, key_col), logical=key_col)
    # the sidecar records the PHYSICAL column name (see
    # snapshots._colmap): raw-file scans here and in every later sync
    # key on it, and it is stable across renames — an index built
    # against the logical name would null-fill after a rename and
    # silently lose its no-false-negatives contract
    from .snapshots import _colmap

    pkey = _colmap(man).get(key_col, key_col)
    idx = _bloom_rows_for_files(
        spark, table_path, man["files"], pkey, key_type, m_bits, k
    )
    # Sidecar FIRST, then rows (both under rows/ so reconciles never
    # touch the sidecar — see _data_path): a crash mid-build leaves new
    # dials over a partial/empty rows table, which the coverage check
    # rejects loudly and sync_bloom_with_snapshot completes under the
    # CORRECT dials. The reverse order could leave new rows under the
    # old sidecar's dials — silent false negatives.
    write_index_meta(
        spark,
        index_path,
        {
            "kind": "bloom",
            "scope": "snapshot",
            "layout": "rows-subdir",
            "key_col": pkey,
            "key_type": key_type,
            "m_bits": m_bits,
            "k": k,
        },
    )
    idx.write.mode("overwrite").parquet(f"{index_path}/rows")
    return (
        read_index_parquet(spark, f"{index_path}/rows", _ROWS_DDL)
        .select("file")
        .distinct()
        .count()
    )


def sync_bloom_with_snapshot(
    spark: SparkSession, table_path: str, index_path: str
) -> dict:
    """Reconcile a snapshot Bloom index with the LATEST manifest:
    departed files (deletes, compactions, restores) lose their Bloom
    rows — a candidate list must never name a file whose rows are no
    longer part of the table — and unindexed live files (appends,
    rewrites' new files) gain theirs. Stateless and idempotent: no
    cursor to advance, re-running is a no-op, and a crash between the
    prune and the append leaves a state the next sync completes — the
    rows live under ``rows/`` precisely so the prune's overwrite can
    never clobber the root ``_meta.json`` (a torn prune is a partial
    rows table the next sync reconciles, not a sidecar-less directory
    every reader rejects).
    Returns {"files_added", "files_removed", "version"}."""
    from ..session import static_partition_overwrite
    from .snapshots import _manifest_at

    check_index_meta(spark, index_path, {"kind": "bloom", "scope": "snapshot"})
    meta = read_index_meta(spark, index_path)
    rows_path = _data_path(index_path, meta)
    version, man = _manifest_at(table_path)
    _refuse_defaulted_key(man, meta["key_col"])
    live = set(man["files"])
    rows = read_index_parquet(spark, rows_path, _ROWS_DDL)
    indexed = {
        r["file"] for r in rows.select("file").distinct().collect()
    }  # driver-sized: one string per live data file, same order as the
    # manifest itself
    departed = sorted(indexed - live)
    to_add = sorted(live - indexed)
    if departed:
        live_df = F.broadcast(
            local_frame(spark, [(f,) for f in sorted(live)], "file string")
        )
        survivors = (
            rows.join(live_df, "file", "left_semi")
            .localCheckpoint(eager=True)  # the write replaces its input
        )
        with static_partition_overwrite(spark):
            survivors.write.mode("overwrite").parquet(rows_path)
    if to_add:
        _bloom_rows_for_files(
            spark, table_path, to_add, meta["key_col"], meta["key_type"],
            meta["m_bits"], meta["k"],
        ).write.mode("append").parquet(rows_path)
    return {
        "files_added": len(to_add),
        "files_removed": len(departed),
        "version": version,
    }


def read_snapshot_with_bloom(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    values: list,
) -> DataFrame:
    """Point lookup over a snapshot table scanning ONLY Bloom-candidate
    files. Two guards keep the no-false-negatives contract under DML:
    the index must COVER every live file (else a fresh append would be
    silently unsearchable — fail with sync guidance), and candidates
    are intersected with the manifest (a stale-but-covering index can
    at worst over-scan live files, never resurrect removed ones).
    Dials come from the sidecar; the residual predicate restores
    exactness."""
    from pyspark.sql.types import StructType

    from .snapshots import _manifest_at, _scan_live

    check_index_meta(spark, index_path, {"kind": "bloom", "scope": "snapshot"})
    meta = read_index_meta(spark, index_path)
    _, man = _manifest_at(table_path)
    _refuse_defaulted_key(man, meta["key_col"])
    live = set(man["files"])
    indexed = {
        r["file"]
        for r in read_index_parquet(
            spark, _data_path(index_path, meta), _ROWS_DDL
        )
        .select("file")
        .distinct()
        .collect()
    }
    uncovered = live - indexed
    if uncovered:
        raise ValueError(
            f"{len(uncovered)} live file(s) not in the Bloom index — a "
            "candidate lookup would silently miss their rows; run "
            "sync_bloom_with_snapshot first"
        )
    cand = bloom_candidate_files(
        spark, index_path, meta["key_col"], values,
        m_bits=meta["m_bits"], k=meta["k"],
    )
    files = [f for f in cand if f in live]
    schema = StructType.fromJson(man["schema"])
    if not files:
        return local_frame(spark, [], schema)
    from .snapshots import _colmap

    cmap = _colmap(man)
    # the sidecar's key_col is the frozen PHYSICAL name; the residual
    # predicate runs on the logical frame — translate for the filter
    inv = {ph: l for l, ph in cmap.items()}
    lkey = inv.get(meta["key_col"], meta["key_col"])
    # merge-on-read deletes: Bloom rows index PHYSICAL rows, so a
    # candidate may hold only tombstoned matches — the DV anti-join (and
    # the equality-delete key mask) keeps lookups exact (over-scan only,
    # never resurrection)
    return _scan_live(spark, table_path, man, files).where(
        F.col(lkey).isin(values)
    )
