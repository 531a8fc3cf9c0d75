"""Snapshot-versioned parquet tables — atomic commits, time travel,
rollback, vacuum.

The reference's warehouse writes append blindly (`WRITE_APPEND` with
swallowed errors, airflow/dags/ingest_binance_last_3_days.py:85-103;
S3 puts at producer/build_fact_fee_tax.py:85-94): a crashed or buggy
load leaves half its files visible to every reader and nothing records
what the table looked like before it ran. This module supplies the
missing table-format tier — the Delta/Iceberg idea reduced to its
load-bearing core — over plain partitioned parquet:

    {table}/data/{uuid}/...           immutable data dirs, one per commit
    {table}/versions/v{N:011d}/       manifest: the LIVE dir set at N

A commit writes its data dir first (invisible — readers resolve a
manifest before listing anything), then renames a manifest temp dir to
the next version number. The rename is the commit point and is atomic
per the Hadoop FS contract (the ivf.py discipline), so:

- a crash anywhere leaves either version N or version N+1, never a
  torn table; orphaned data/temp dirs are invisible and vacuumable;
- two concurrent committers cannot both win one version number — the
  loser's rename fails (destination exists), it re-reads the NEW
  latest manifest and retries, so a lost-update is impossible
  (optimistic concurrency, append semantics re-derived per attempt);
- every historical manifest stays readable: `read_snapshot(version=)`
  is time travel, `rollback_snapshot` is a new manifest pointing at
  old dirs (history is never rewritten), and `vacuum_snapshots`
  deletes only dirs no retained manifest references.

Scale posture (the Delta-log shape, round 9): append/merge/DML commits
write DELTA manifests — one "add" row per new dir, one "remove" row
per dropped dir — so commit metadata cost is O(changed dirs), however
many dirs are live. Every ``_CKPT_EVERY``th version, and every
overwrite/rollback/compact, writes a full-listing CHECKPOINT; readers
resolve a delta against its recorded checkpoint ``base`` plus the
deltas in between (bounded by the cadence, never the whole log, never
a data file). ``vacuum_snapshots`` pins the retention floor as an
additive SIDECAR checkpoint (``{table}/ckpts/v{N}`` — commit-log
entries are never rewritten) before reaping a chain, so retention
semantics are unchanged and retained versions keep resolving.
Pre-delta-format tables read unchanged: their full-listing manifests
ARE checkpoints, and the first new commit starts a delta chain on top.
History/as-of resolution reads the manifest rows themselves (KBs per
thousand commits); the stream high-water mark reads the HEAD manifest
alone (carried forward on every commit). Data dirs inherit whatever
`partitionBy` layout the writer used, so partition pruning inside each
live dir is unchanged.
"""

from __future__ import annotations

import json
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_rows
from .metacache import _hadoop_fs

__all__ = [
    "commit_snapshot",
    "read_snapshot",
    "snapshot_history",
    "rollback_snapshot",
    "vacuum_snapshots",
    "snapshot_append_batch",
    "streaming_snapshot_append",
    "compact_snapshot",
    "snapshot_changes",
    "snapshot_diff",
    "snapshot_merge",
    "snapshot_delete",
    "snapshot_update",
    "snapshot_sync",
    "snapshot_tail",
    "tail_cursor",
    "read_snapshot_range",
    "snapshot_lookup",
    "set_snapshot_constraints",
    "get_snapshot_constraints",
    "drop_snapshot_constraint",
    "table_schema",
    "snapshot_detail",
]

_V_WIDTH = 11  # zero-pad so lexicographic dir order == numeric order


def _vname(version: int) -> str:
    return f"v{version:0{_V_WIDTH}d}"


def _versions_dir(table: str) -> str:
    return f"{table.rstrip('/')}/versions"


def _list_versions(spark: SparkSession, table: str) -> list[int]:
    fs, p = _hadoop_fs(spark, _versions_dir(table))
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


# Head pointer (VERDICT r10 task 2): the commit hot path needs only the
# HEAD version, but _list_versions is an O(#versions) directory listing
# — the last growing per-commit term in the r10 phase tables. Every
# successful manifest claim drops a tiny `_HEAD` hint file next to the
# version dirs; head lookup reads it and probes FORWARD, so the
# steady-state cost is one read + one negative exists() regardless of
# table history length. The hint is best-effort BY CONSTRUCTION:
# out-of-order racer writes or a crash between claim and hint write
# leave it stale-low (readers probe past it), a corrupt/missing hint
# (legacy tables) falls back to the full listing — it can never yield a
# wrong head, only extra probes.
_HEAD_NAME = "_HEAD"


def _head_hint_path(table: str) -> str:
    return f"{_versions_dir(table)}/{_HEAD_NAME}"


def _write_head_hint(spark: SparkSession, table: str, version: int) -> None:
    try:
        fs, p = _hadoop_fs(spark, _head_hint_path(table))
        out = fs.create(p, True)
        out.write(bytearray(str(int(version)).encode("ascii")))
        out.close()
    except Exception:
        pass  # hint only — the version dirs remain the source of truth


def _head_version(spark: SparkSession, table: str) -> int | None:
    """Current head version, O(1) steady state; None for an empty table."""
    fs, p = _hadoop_fs(spark, _head_hint_path(table))
    try:
        if fs.exists(p):
            stream = fs.open(p)
            try:
                raw = bytearray()
                while len(raw) < 32:
                    b = stream.read()
                    if b < 0:
                        break
                    raw.append(b)
            finally:
                stream.close()
            v = int(bytes(raw).decode("ascii").strip())
            _, vp = _hadoop_fs(spark, f"{_versions_dir(table)}/{_vname(v)}")
            if v >= 0 and fs.exists(vp):
                while True:
                    _, nxt = _hadoop_fs(
                        spark, f"{_versions_dir(table)}/{_vname(v + 1)}"
                    )
                    if not fs.exists(nxt):
                        return v
                    v += 1
    except Exception:
        pass  # unreadable/corrupt hint: fall through to the listing
    versions = _list_versions(spark, table)
    return versions[-1] if versions else None


def _read_manifest(spark: SparkSession, table: str, version: int) -> DataFrame:
    return spark.read.parquet(f"{_versions_dir(table)}/{_vname(version)}")


# Full-listing cadence (Delta's checkpointInterval): every Nth version
# is a CHECKPOINT manifest (one row per live dir); versions in between
# are DELTA manifests (add/remove rows only), so per-commit metadata
# cost is O(changed dirs), not O(live dirs) — the 100x smokes measured
# the full-listing form growing 13-16x per commit as dir count grew.
_CKPT_EVERY = 10

# Per-commit phase timings (VERDICT r10 task 2): when a caller (the
# scale smoke's commit loops) sets this to a list, commit_snapshot
# appends one {phase: seconds} dict per successful commit, so growth in
# ANY phase (head lookup, schema/constraints, data write, stats,
# manifest write) is attributable without ad-hoc profiling runs.
_PHASE_SINK: list | None = None


def _live_state(
    spark: SparkSession, table: str, version: int
) -> tuple[list[tuple[str, str | None]], int]:
    """(live entries, checkpoint base) as of ``version``. A manifest is
    either a CHECKPOINT (full live listing — every pre-delta-format
    manifest, plus overwrite/rollback/compact and every ``_CKPT_EVERY``th
    commit) or a DELTA (add/remove rows against the previous version).
    Resolution reads the version's own manifest plus, for deltas, ONE
    glob over [base, version] — bounded by the checkpoint cadence,
    never the whole log, never a data file."""
    mdf = _read_manifest(spark, table, version)
    cols = mdf.columns
    has_stats = "stats" in cols
    if "base" not in cols:
        # legacy manifest: always a full listing
        rows = mdf.select("path", *(["stats"] if has_stats else [])).collect()
        return [(r["path"], r["stats"] if has_stats else None) for r in rows], version
    first = mdf.select("base").first()
    base = int(first["base"]) if first is not None and first["base"] is not None else version
    if base == version:
        rows = mdf.select("path", *(["stats"] if has_stats else [])).collect()
        return [(r["path"], r["stats"] if has_stats else None) for r in rows], version
    # delta chain: checkpoint + every delta in (base, version], applied
    # in version order (mergeSchema: the base checkpoint may be a
    # legacy manifest without the action/base columns). A sidecar
    # checkpoint inside the range (written by vacuum before reaping
    # the chain's base) shortcuts resolution to (sidecar, version].
    # `base <= c`: a recorded base may itself be sidecar-backed (its
    # own manifest is a delta whose chain was reaped) — the sidecar AT
    # the base is then the full listing, not the base's manifest
    side = [c for c in _list_sidecar_ckpts(spark, table) if base <= c <= version]
    dirs: list[str]
    if side:
        base = max(side)
        dirs = [f"{_ckpts_dir(table)}/{_vname(base)}"] + [
            f"{_versions_dir(table)}/{_vname(v)}"
            for v in range(base + 1, version + 1)
        ]
    else:
        dirs = [
            f"{_versions_dir(table)}/{_vname(v)}" for v in range(base, version + 1)
        ]
    m = spark.read.option("mergeSchema", "true").parquet(*dirs)
    rows = m.select("version", "path", "stats", "action").collect()
    rows.sort(key=lambda r: r["version"])  # stable: in-version row order kept
    live: dict[str, str | None] = {}
    for r in rows:
        if (r["action"] or "add") == "remove":
            live.pop(r["path"], None)
        else:
            live[r["path"]] = r["stats"]
    return list(live.items()), base


def _live_entries(
    spark: SparkSession, table: str, version: int
) -> list[tuple[str, str | None]]:
    """(path, stats_json|None) per live dir. Manifests written before the
    stats column existed read as None — every consumer must treat a
    missing stats entry as 'could contain anything'."""
    return _live_state(spark, table, version)[0]


def _ckpt_base_of(spark: SparkSession, table: str, version: int) -> int:
    """The checkpoint version ``version``'s manifest resolves against
    (itself for checkpoints and legacy full listings)."""
    mdf = _read_manifest(spark, table, version)
    if "base" not in mdf.columns:
        return version
    row = mdf.select("base").first()
    return int(row["base"]) if row is not None and row["base"] is not None else version


# --- sidecar checkpoints ------------------------------------------------
# {table}/ckpts/v{N}/ — a full live listing AT version N, written by
# vacuum (atomic-rename claim, same discipline as versions) so delta
# manifests inside the retained window can resolve after their base
# chain is reaped. Delta Lake's _last_checkpoint idea: the commit log
# entry at N is never rewritten; the checkpoint is an additive sidecar.


def _ckpts_dir(table: str) -> str:
    return f"{table.rstrip('/')}/ckpts"


def _list_sidecar_ckpts(spark: SparkSession, table: str) -> list[int]:
    fs, p = _hadoop_fs(spark, _ckpts_dir(table))
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def _write_sidecar_checkpoint(spark: SparkSession, table: str, version: int) -> None:
    """Materialize the full live listing at ``version`` as a sidecar
    checkpoint (idempotent: a lost claim means someone else already
    wrote it). Must run while the version's manifest chain is still
    resolvable."""
    entries, base = _live_state(spark, table, version)
    if base == version:
        return  # already a full listing; nothing to pin
    schema_json = table_schema(spark, table, version).json()
    rows = [
        (p, int(version), "sidecar-ckpt", float(time.time()), s, None,
         schema_json, "add", int(version), len(entries))
        for p, s in entries
    ]
    tmp = f"{table.rstrip('/')}/__vtmp_{uuid.uuid4().hex[:12]}"
    local_rows(
        spark, rows,
        "path string, version long, operation string, committed_at double,"
        " stats string, stream_hwm long, table_schema string,"
        " action string, base long, n_live long",
    ).write.mode("overwrite").parquet(tmp)
    fs, cdir = _hadoop_fs(spark, _ckpts_dir(table))
    fs.mkdirs(cdir)
    _claim_version(spark, tmp, f"{_ckpts_dir(table)}/{_vname(version)}")


def _live_dirs(spark: SparkSession, table: str, version: int) -> list[str]:
    return [p for p, _ in _live_entries(spark, table, version)]


def _json_scalar(v):
    return v if v is None or isinstance(v, (int, float, bool)) else str(v)


def _dir_stats_json(
    spark: SparkSession,
    data_dir: str,
    stats_cols: list[str],
    bloom_spec: dict[str, dict] | None = None,
) -> str | None:
    """Per-dir min/max for ``stats_cols``, read back from the freshly
    written files (column-pruned scan of one dir — footer-cheap, and
    exact for whatever the writer actually put there). Only types whose
    JSON/str encoding preserves ordering are recorded (numerics compare
    as numbers; strings and ISO-formatted date/timestamp compare
    lexicographically) — a Decimal or binary column is silently skipped
    rather than risk a wrong prune.

    ``bloom_spec`` ({col: {"m": bits, "k": hashes}}) additionally
    records a per-dir Bloom filter under the reserved ``__bloom__`` key:
    the POINT-lookup complement to the min/max range stats, for
    high-cardinality unsorted keys (uuid-style ids) where every dir's
    [min,max] spans the whole key space and range pruning cannot skip
    anything. Bits come from the same JVM ``xxhash64(col, seed_i)``
    expressions the probe side recomputes, collected as the DISTINCT bit
    positions (bounded by m, never by row count) and packed driver-side
    — one extra distributed pass over the freshly written dir, KBs of
    manifest metadata per column. NULL values hash like any other value
    on both sides, so bloom pruning stays exact for NULL-keyed merges
    (the min/max prune must disable itself there). A saturated bloom
    (too many distinct keys for m) degrades to pruning nothing — a
    superset filter by construction, never a wrong skip."""
    from pyspark.sql import types as T

    safe = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType, T.DateType,
        T.TimestampType, T.TimestampNTZType,
    )
    df = spark.read.parquet(data_dir)
    present = [
        c
        for c in stats_cols
        if c in df.columns and isinstance(df.schema[c].dataType, safe)
    ]
    out: dict = {}
    if present:
        row = df.agg(
            *[
                a
                for c in present
                for a in (F.min(c).alias(f"n_{c}"), F.max(c).alias(f"x_{c}"))
            ]
        ).first()
        out = {
            c: {
                "min": _json_scalar(row[f"n_{c}"]),
                "max": _json_scalar(row[f"x_{c}"]),
            }
            for c in present
        }
    b_items = [
        (c, sp) for c, sp in (bloom_spec or {}).items() if c in df.columns
    ]
    if b_items:
        import base64

        # one job for every bloom column: positions are block-offset
        # (each m rounded to whole bytes so blocks stay byte-aligned)
        # into one shared bit space; each partition packs ITS positions
        # into a local bitmap and the driver ORs the per-partition
        # bitmaps — transfer is partitions × sum(m_c)/8 bytes,
        # independent of the dir's row count
        exprs, offs, offset = [], [], 0
        norm_items = []
        for c, sp in b_items:
            m = ((int(sp["m"]) + 7) // 8) * 8
            k = int(sp["k"])
            norm_items.append((c, m, k))
            exprs += [
                F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(m)) + F.lit(offset)
                for i in range(k)
            ]
            offs.append(offset)
            offset += m
        nbytes = offset // 8

        def _partition_bitmaps(it):
            bits = np.zeros(nbytes, dtype=np.uint8)
            for pdf in it:
                if len(pdf):
                    arr = np.concatenate(pdf["p"].to_numpy()).astype(np.int64)
                    np.bitwise_or.at(
                        bits, arr // 8, (1 << (arr % 8)).astype(np.uint8)
                    )
            yield pd.DataFrame({"bm": [bits.tobytes()]})

        agg = np.zeros(nbytes, dtype=np.uint8)
        for r in (
            df.select(F.array(*exprs).alias("p"))
            .mapInPandas(_partition_bitmaps, "bm binary")
            .collect()
        ):
            agg |= np.frombuffer(r["bm"], dtype=np.uint8)
        blooms = {}
        for (c, m, k), off in zip(norm_items, offs):
            bits = agg[off // 8 : (off + m) // 8]
            blooms[c] = {
                "m": m,
                "k": k,
                # probe-side bit positions only match when the hashed
                # JVM type matches (xxhash64 of int 5 != long 5) — the
                # probe skips blooms whose recorded type differs
                "t": df.schema[c].dataType.simpleString(),
                "b64": base64.b64encode(bits.tobytes()).decode(),
            }
        out[_BLOOM_KEY] = blooms
    if not out:
        return None
    return json.dumps(out, default=str, sort_keys=True)


def _stats_cols_of(entries: list[tuple[str, str | None]]) -> list[str]:
    """The union of columns any live dir carries stats for — how
    rewriting operations (merge, compact) keep collecting the stats the
    table was committed with, without the caller re-stating them."""
    cols: set[str] = set()
    for _, s in entries:
        if s:
            cols.update(k for k in json.loads(s) if k != _BLOOM_KEY)
    return sorted(cols)


_BLOOM_KEY = "__bloom__"  # reserved slot inside the per-dir stats JSON


def _bloom_spec_of(entries: list[tuple[str, str | None]]) -> dict[str, dict]:
    """{col: {"m": bits, "k": hashes}} — the union of bloom columns any
    live dir carries, first-seen parameters win. Rewriting operations
    (merge, compact) use this the way ``_stats_cols_of`` is used for
    min/max stats: one bloom-aware writer keeps the whole table
    bloom-prunable."""
    spec: dict[str, dict] = {}
    for _, s in entries:
        if s:
            for col, b in (json.loads(s).get(_BLOOM_KEY) or {}).items():
                spec.setdefault(col, {"m": int(b["m"]), "k": int(b["k"])})
    return spec


def _ranges_overlap(mn, mx, lo, hi) -> bool:
    """Conservative [mn,mx] vs [lo,hi] overlap: any None bound or
    cross-type comparison counts as overlapping (never skip a dir we
    cannot reason about)."""
    try:
        if lo is not None and mx is not None and mx < lo:
            return False
        if hi is not None and mn is not None and mn > hi:
            return False
    except TypeError:
        return True
    return True


def _prune_entries(
    entries: list[tuple[str, str | None]], col: str, lo, hi
) -> list[str]:
    """Dirs that could hold rows with ``col`` in [lo, hi]: stats-less
    dirs always survive; a pruned dir provably has no qualifying row."""
    keep = []
    for path, s in entries:
        if s:
            st = json.loads(s).get(col)
            if st is not None and not _ranges_overlap(
                st.get("min"), st.get("max"), lo, hi
            ):
                continue
        keep.append(path)
    return keep


def _bloom_prune_dirs(
    updates: DataFrame,
    key_cols: list[str],
    entries: list[tuple[str, str | None]],
) -> list[str]:
    """Dirs from ``entries`` that could contain a row matching SOME
    update row on ``key_cols``, decided by the per-dir manifest blooms
    — the point-lookup prune for keys min/max ranges cannot separate.

    A dir is kept unless every update row misses it: per update row and
    usable key column, all k of the column's bit positions must be set
    (the standard Bloom membership test), and a multi-column key must
    hit on EVERY usable column of the same row. Conservative by
    construction: dirs without a bloom, columns whose recorded build
    type differs from the update column's type (different JVM hash
    bytes), and saturated blooms all fall back to "keep".

    Plan shape: the probe recomputes the build side's
    ``xxhash64(col, seed_i)`` expressions on the (already one-row-per-
    key) update frame, an Arrow-batched kernel tests all dirs' bitmaps
    per batch against numpy bit ops, and the only driver transfer is
    the DISTINCT set of hit dir indices — bounded by the number of live
    dirs, never by update rows. The bitmaps ride the closure (KBs per
    dir), the update frame is scanned once."""
    import base64
    import json as _json

    types = {f.name: f.dataType.simpleString() for f in updates.schema.fields}
    kept: list[str] = []
    probed_paths: list[str] = []
    probe_tests: list[list[tuple[int, int, int, np.ndarray]]] = []
    cols_used: list[str] = []
    for path, s in entries:
        blooms = (_json.loads(s).get(_BLOOM_KEY) or {}) if s else {}
        usable = []
        for c in key_cols:
            b = blooms.get(c)
            if b is not None and b.get("t") == types.get(c):
                if c not in cols_used:
                    cols_used.append(c)
                usable.append(
                    (
                        cols_used.index(c),
                        int(b["m"]),
                        int(b["k"]),
                        np.frombuffer(
                            base64.b64decode(b["b64"]), dtype=np.uint8
                        ),
                    )
                )
        if usable:
            probed_paths.append(path)
            probe_tests.append(usable)
        else:
            kept.append(path)  # no usable bloom: cannot rule this dir out
    if not probed_paths:
        return kept
    k_max = max(k for us in probe_tests for _, _, k, _ in us)
    # one flat array column: block j of width k_max holds cols_used[j]'s
    # per-seed hashes (varargs pandas_udf signatures are unsupported)
    hashes = F.array(
        *[
            F.xxhash64(F.col(c), F.lit(i))
            for c in cols_used
            for i in range(k_max)
        ]
    )

    @F.pandas_udf("array<int>")
    def _hits(h: pd.Series) -> pd.Series:
        n = len(h)
        if n == 0:
            return pd.Series([], dtype=object)
        H = np.asarray(h.tolist(), dtype=np.int64)  # (rows, n_cols*k_max)
        out: list[list[int]] = [[] for _ in range(n)]
        for d, usable in enumerate(probe_tests):
            ok = np.ones(n, dtype=bool)
            for cj, m, k, bits in usable:
                pos = H[:, cj * k_max : cj * k_max + k] % m  # % positive -> [0, m)
                hit = (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
                ok &= hit.all(axis=1)
                if not ok.any():
                    break
            for r in np.nonzero(ok)[0]:
                out[r].append(d)
        return pd.Series(out)

    rows = (
        updates.select(_hits(hashes).alias("__d"))
        .select(F.explode("__d").alias("d"))
        .distinct()
        .collect()
    )
    hit = {int(r["d"]) for r in rows}
    return kept + [p for i, p in enumerate(probed_paths) if i in hit]


def _claim_version(spark: SparkSession, tmp: str, dest: str) -> bool:
    """Atomically-enough claim ``dest`` by renaming ``tmp`` onto it.
    Hadoop's FileSystem.rename has mv semantics: when ``dest`` already
    EXISTS as a directory (a concurrent committer won), the source is
    silently moved INSIDE it and rename still returns true — so a bare
    rename can't tell winning from losing. Detect the swallow after the
    fact: if our tmp dir ended up nested under ``dest``, pull it out
    (delete it) and report the loss so the caller retries at N+1."""
    fs, dest_p = _hadoop_fs(spark, dest)
    _, tmp_p = _hadoop_fs(spark, tmp)
    if fs.exists(dest_p):
        fs.delete(tmp_p, True)
        return False
    if not fs.rename(tmp_p, dest_p):
        fs.delete(tmp_p, True)
        return False
    _, nested = _hadoop_fs(spark, f"{dest}/{tmp.rstrip('/').rsplit('/', 1)[-1]}")
    if fs.exists(nested):
        fs.delete(nested, True)  # we were swallowed into the winner's dir
        return False
    return True


def table_schema(
    spark: SparkSession, table: str, version: int | None = None
):
    """The table's schema (StructType) as of ``version`` (default head),
    from the manifest's recorded ``table_schema`` when present — a KB
    metadata read, no data files touched. Manifests written before the
    column existed fall back to ONE parquet union read over the live
    dirs (footer-cheap); the next commit re-records the schema, so a
    legacy table pays the fallback once."""
    from pyspark.sql import types as T

    v = _resolve_version(spark, table, version, None)
    mdf = _read_manifest(spark, table, v)
    if "table_schema" in mdf.columns:
        row = mdf.select("table_schema").first()
        if row is not None and row["table_schema"] is not None:
            return T.StructType.fromJson(json.loads(row["table_schema"]))
    dirs = _live_dirs(spark, table, v)
    return spark.read.option("mergeSchema", "true").parquet(*dirs).schema


def _merged_schema_json(head_schema, df: DataFrame) -> str:
    """Union of the table's schema and ``df``'s (head's column order
    first, new columns appended) — what the manifest records after an
    evolving append/merge."""
    from pyspark.sql import types as T

    if head_schema is None:
        return df.schema.json()
    fields = list(head_schema.fields)
    have = {f.name for f in fields}
    fields += [f for f in df.schema.fields if f.name not in have]
    return T.StructType(fields).json()


def _check_append_schema(
    head_schema, df: DataFrame, evolve_schema: bool, table: str
) -> None:
    """Write-side schema enforcement for append commits (the Delta
    default): shared columns must keep their exact type (no silent
    widening — cast explicitly), and NEW columns are rejected unless the
    caller states evolution intent with ``evolve_schema=True``. Missing
    columns are fine — readers see typed NULLs under merge_schema."""
    if head_schema is None:
        return
    types = {f.name: f.dataType for f in head_schema.fields}
    conflicts = [
        (c, str(types[c]), str(df.schema[c].dataType))
        for c in df.columns
        if c in types and df.schema[c].dataType != types[c]
    ]
    if conflicts:
        detail = ", ".join(f"{c}: table {a} vs commit {b}" for c, a, b in conflicts)
        raise ValueError(
            f"schema enforcement: type conflict appending to {table} "
            f"({detail}); cast the commit to the table's types"
        )
    new_cols = [c for c in df.columns if c not in types]
    if new_cols and not evolve_schema:
        raise ValueError(
            f"schema enforcement: commit adds column(s) {new_cols} to "
            f"{table}; pass evolve_schema=True to evolve the schema"
        )


# --- CHECK constraints -------------------------------------------------
# Stored under {table}/constraints/k{N}/ as a tiny parquet (name, expr),
# claimed with the same atomic-rename discipline as versions — latest N
# wins, concurrent setters cannot tear the set. Enforcement folds an
# assert_true filter into every WRITE plan (commit/merge/DML), so a
# violating row aborts the data write before any manifest is claimed —
# zero extra scan, the check rides the write's own pass. SQL CHECK
# semantics: a constraint passes when its expression is TRUE or NULL.

_C_WIDTH = _V_WIDTH


def _constraints_dir(table: str) -> str:
    return f"{table.rstrip('/')}/constraints"


def _list_constraint_versions(spark: SparkSession, table: str) -> list[int]:
    fs, p = _hadoop_fs(spark, _constraints_dir(table))
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("k") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def get_snapshot_constraints(spark: SparkSession, table: str) -> dict[str, str]:
    """The table's active CHECK constraints, {name: sql_expr}. Empty
    dict when none were ever set (one FS existence probe — the no-
    constraints fast path costs commits nothing)."""
    ks = _list_constraint_versions(spark, table)
    if not ks:
        return {}
    rows = spark.read.parquet(
        f"{_constraints_dir(table)}/k{ks[-1]:0{_C_WIDTH}d}"
    ).collect()
    return {r["name"]: r["expr"] for r in rows}


def _write_constraints(
    spark: SparkSession, table: str, constraints: dict[str, str]
) -> dict[str, str]:
    base = table.rstrip("/")
    for _ in range(10):
        ks = _list_constraint_versions(spark, table)
        nxt = (ks[-1] + 1) if ks else 0
        tmp = f"{base}/__ktmp_{uuid.uuid4().hex[:12]}"
        local_rows(
            spark, sorted(constraints.items()) or [(None, None)],
            "name string, expr string",
        ).where(F.col("name").isNotNull()).write.mode(
            "overwrite"
        ).parquet(tmp)
        fs, kdir = _hadoop_fs(spark, _constraints_dir(table))
        fs.mkdirs(kdir)
        if _claim_version(
            spark, tmp, f"{_constraints_dir(table)}/k{nxt:0{_C_WIDTH}d}"
        ):
            return dict(constraints)
    raise RuntimeError(f"constraint update on {table} lost 10 claim races")


def set_snapshot_constraints(
    spark: SparkSession,
    table: str,
    constraints: dict[str, str],
    validate: bool = True,
    replace: bool = False,
) -> dict[str, str]:
    """Add (or with ``replace=True``, replace the whole set with) CHECK
    constraints on a snapshot table: {name: sql_expr}, SQL semantics —
    a row passes when the expression is TRUE or NULL, so
    ``"price IS NOT NULL"`` and ``"qty >= 0"`` both behave like their
    SQL DDL counterparts. Every later ``commit_snapshot`` /
    ``snapshot_merge`` / ``snapshot_update`` enforces the set inside the
    write plan itself (a violating row aborts the write before the
    version is claimed — the table never goes bad, and the check costs
    no extra scan).

    ``validate=True`` (the ADD CONSTRAINT contract) first proves the
    CURRENT head satisfies the new expressions — one aggregating scan
    counting violations per constraint; refused with the counts when
    existing data violates. Expressions are also resolved against the
    head schema at set time so a typo fails HERE, not at the next
    commit. Both steps are skipped for a table with no commits yet (the
    constraints then bind from its first commit). Returns the active
    set."""
    if not constraints:
        raise ValueError("constraints must be a non-empty {name: expr} dict")
    current = get_snapshot_constraints(spark, table)
    merged = dict(constraints) if replace else {**current, **constraints}
    if _list_versions(spark, table):
        from pyspark.errors import AnalysisException, ParseException

        head = read_snapshot(spark, table, merge_schema=True)
        checks = []
        for name, expr in sorted(merged.items()):
            # parse + resolution check per constraint (driver-side
            # analysis, no job): a typo fails HERE, named, not at the
            # next commit. F.expr parses eagerly, so it must sit inside
            # the try for ParseException to reach the named error path.
            try:
                cond = F.coalesce(F.expr(expr), F.lit(True))
                head.select(cond)
            except ParseException as e:
                raise ValueError(
                    f"constraint {name!r} does not parse: {expr!r}"
                ) from e
            except AnalysisException as e:
                raise ValueError(
                    f"constraint {name!r} does not resolve against "
                    f"{table}'s schema: {expr!r} ({e})"
                ) from e
            checks.append(F.sum((~cond).cast("long")).alias(name))
        if validate:
            row = head.select(*checks).first()
            bad = {n: int(row[n]) for n in merged if row[n]}
            if bad:
                raise ValueError(
                    f"existing data in {table} violates constraint(s) "
                    f"{bad} (rows in violation); fix the data or pass "
                    "validate=False to enforce on future writes only"
                )
    return _write_constraints(spark, table, merged)


def drop_snapshot_constraint(
    spark: SparkSession, table: str, name: str
) -> dict[str, str]:
    """Remove one named constraint; returns the remaining active set.
    Unknown names raise (a typo must not silently leave the constraint
    enforced)."""
    current = get_snapshot_constraints(spark, table)
    if name not in current:
        raise ValueError(
            f"no constraint {name!r} on {table} (have {sorted(current)})"
        )
    current.pop(name)
    return _write_constraints(spark, table, current)


def _apply_check_constraints(
    df: DataFrame,
    constraints: dict[str, str],
    table: str,
    head_schema=None,
) -> DataFrame:
    """Fold the active constraints into ``df``'s plan as a raising
    filter: assert_true is NULL on success, so the coalesced guard
    passes every compliant row and a violation aborts the enclosing
    write action. Columns a constraint references that ``df`` lacks
    (a missing-column append) evaluate as typed NULL — exactly how the
    committed rows will read back, so CHECK's NULL-passes rule applies
    consistently."""
    if not constraints:
        return df
    missing = [
        f
        for f in (head_schema.fields if head_schema is not None else [])
        if f.name not in df.columns
    ]
    aug = (
        df.select(
            "*",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing],
        )
        if missing
        else df
    )
    guard = None
    for name, expr in sorted(constraints.items()):
        ok = F.coalesce(F.expr(expr), F.lit(True))
        g = F.coalesce(
            F.assert_true(
                ok,
                F.lit(
                    f"snapshot constraint {name!r} violated on {table}: "
                    f"CHECK ({expr})"
                ),
            ).cast("boolean"),
            F.lit(True),
        )
        guard = g if guard is None else (guard & g)
    try:
        out = aug.where(guard)
    except Exception as e:
        # most common cause: an overwrite dropped a column an active
        # constraint still references — surface WHICH constraint blocks
        # the write instead of a bare unresolved-column error
        raise ValueError(
            f"active constraint(s) {sorted(constraints)} on {table} no "
            f"longer resolve against this write's schema (did an "
            f"overwrite drop a constrained column?); drop or update the "
            f"constraint: {e}"
        ) from e
    return out.select(*df.columns) if missing else out


def _write_manifest_commit(
    spark: SparkSession,
    table: str,
    next_v: int,
    live: list,
    operation: str,
    committed_at: float,
    stream_hwm: int | None = None,
    table_schema_json: str | None = None,
    prior: tuple[list[tuple[str, str | None]], int] | None = None,
) -> bool:
    """One manifest-write + version-claim attempt; True on success.
    ``live`` entries are dir paths or (path, stats_json) pairs.

    ``prior`` is the head's ``_live_state`` (entries, checkpoint base).
    When given — the append/merge/DML hot paths — and the cadence
    allows, the manifest is written as a DELTA: one "add" row per new
    dir and one "remove" row per dropped dir, so commit metadata cost
    is O(changed dirs). Without it (overwrite, rollback, compact — the
    natural log-compaction points), or every ``_CKPT_EVERY``th version,
    or when the diff wouldn't be smaller, a full-listing CHECKPOINT is
    written. Readers resolve deltas against the recorded ``base``.

    ``stream_hwm`` is the high-water stream batch id carried forward on
    EVERY commit (not just stream appends) so vacuuming the original
    stream-append manifests cannot erase the exactly-once replay guard
    — the surviving head manifest always still records it.
    ``table_schema_json`` is the table's UNION schema as of this commit
    (StructType.json()), recorded in the manifest so write-side schema
    enforcement reads KBs of metadata instead of footer-probing every
    live dir (the Delta schema-in-the-log posture). None on manifests
    written by legacy paths — consumers fall back to a one-off parquet
    union read and the next commit re-records it."""
    base = table.rstrip("/")
    hwm = None if stream_hwm is None else int(stream_hwm)
    entries = [e if isinstance(e, tuple) else (e, None) for e in live]
    n_live = len(entries)

    def _row(path, stats, action, ckpt_base):
        return (path, int(next_v), operation, float(committed_at), stats,
                hwm, table_schema_json, action, int(ckpt_base), n_live)

    rows = None
    if prior is not None and next_v % _CKPT_EVERY != 0:
        prior_entries, prior_base = prior
        old_paths = {p for p, _ in prior_entries}
        new_paths = {p for p, _ in entries}
        adds = [(p, s) for p, s in entries if p not in old_paths]
        removes = sorted(old_paths - new_paths)
        if adds and len(adds) + len(removes) < n_live:
            rows = [_row(p, s, "add", prior_base) for p, s in adds] + [
                _row(p, None, "remove", prior_base) for p in removes
            ]
    if rows is None:  # checkpoint: full live listing, base = self
        rows = [_row(p, s, "add", next_v) for p, s in entries]
    tmp = f"{base}/__vtmp_{uuid.uuid4().hex[:12]}"
    local_rows(
        spark, rows,
        "path string, version long, operation string, committed_at double,"
        " stats string, stream_hwm long, table_schema string,"
        " action string, base long, n_live long",
    ).write.mode("overwrite").parquet(tmp)
    fs, vdir = _hadoop_fs(spark, _versions_dir(table))
    fs.mkdirs(vdir)
    if _claim_version(spark, tmp, f"{_versions_dir(table)}/{_vname(next_v)}"):
        _write_head_hint(spark, table, next_v)
        return True
    return False


def commit_snapshot(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    mode: str = "append",
    operation: str | None = None,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 16,
    bloom_hashes: int = 5,
    max_retries: int = 10,
    evolve_schema: bool = False,
) -> int:
    """Commit ``df`` as the next version of ``table``; returns the
    version number. ``mode='append'`` keeps every prior live dir plus
    the new one; ``mode='overwrite'`` makes the new dir the whole live
    set (prior versions stay readable — nothing is deleted here).

    ``stats_cols`` records per-dir min/max for those columns IN THE
    MANIFEST (the Iceberg manifest-stats idea): one column-pruned
    read-back of the freshly written dir, KBs of metadata, and every
    later reader/merger can skip whole dirs whose range cannot match
    (``read_snapshot_range``, ``snapshot_merge`` discovery). Omitted →
    the new dir carries no stats and is never skipped. When omitted on
    a table whose live dirs already carry stats, the new dir inherits
    THEIR column set automatically, so one stats-aware writer is enough
    to keep the whole table prunable.

    ``bloom_cols`` records a per-dir Bloom filter per column IN THE
    MANIFEST — the point-lookup complement to min/max stats for
    high-cardinality unsorted keys (uuid ids) whose per-dir ranges all
    span the key space: ``snapshot_merge`` discovery and
    ``snapshot_lookup`` then skip dirs whose bloom proves the probed
    keys absent, without reading any data file. Size ``bloom_bits`` at
    ~10× the expected DISTINCT keys per commit dir (the default 64Ki
    bits ≈ 1% false positives at ~6k keys; an undersized bloom
    saturates and simply prunes nothing). Like stats, bloom columns and
    parameters are inherited from the live entries when omitted.

    The data dir lands BEFORE the manifest rename, so a crash between
    the two leaves an invisible orphan, never a half-visible commit.
    A failed manifest rename (concurrent committer won the version
    number) re-reads the new latest and retries with a fresh manifest;
    after ``max_retries`` losses the orphaned data dir is removed and
    the conflict surfaces as RuntimeError.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    base = table.rstrip("/")
    # schema enforcement + CHECK constraints bind BEFORE the data write:
    # a violating commit aborts with no dir on disk and no version
    # claimed. Head schema comes from the manifest's recorded
    # table_schema (KB metadata), so the steady-state cost is one tiny
    # read — not a footer probe of every live dir.
    _ph_t0 = time.time()
    pre_head = _head_version(spark, table)
    head_schema = (
        table_schema(spark, table, pre_head) if pre_head is not None else None
    )
    if mode == "append":
        _check_append_schema(head_schema, df, evolve_schema, table)
    constraints = get_snapshot_constraints(spark, table)
    df = _apply_check_constraints(df, constraints, table, head_schema)
    schema_json = (
        df.schema.json()
        if mode == "overwrite" or head_schema is None
        else _merged_schema_json(head_schema, df)
    )
    data_dir = f"{base}/data/{uuid.uuid4().hex}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _ph_t1 = time.time()
    writer.parquet(data_dir)
    _ph_t2 = time.time()
    _ph = {"pre_sec": _ph_t1 - _ph_t0, "data_write_sec": _ph_t2 - _ph_t1,
           "head_sec": 0.0, "stats_sec": 0.0, "hwm_sec": 0.0,
           "manifest_sec": 0.0}

    op = operation or mode
    new_stats: str | None = None
    stats_done = False
    for attempt in range(max_retries):
        _ph_a = time.time()
        head = _head_version(spark, table)
        next_v = (head + 1) if head is not None else 0
        prior_state = (
            _live_state(spark, table, head) if head is not None else ([], 0)
        )
        prior = prior_state[0]
        _ph["head_sec"] += time.time() - _ph_a
        if attempt and mode == "append" and head is not None:
            # lost a race: the winner may have evolved the schema —
            # re-merge against ITS recorded schema so the manifest we
            # commit doesn't drop the winner's new columns
            head_schema = table_schema(spark, table, head)
            _check_append_schema(head_schema, df, evolve_schema, table)
            schema_json = _merged_schema_json(head_schema, df)
        # stamped per ATTEMPT, not per call: a race loser re-stamps, so
        # committed_at stays monotonic in version and as_of resolution
        # (max version with committed_at <= t) cannot return a version
        # whose live set postdates the requested time
        committed_at = time.time()
        if not stats_done:
            _ph_s = time.time()
            cols = stats_cols or _stats_cols_of(prior)
            bspec = (
                {c: {"m": int(bloom_bits), "k": int(bloom_hashes)} for c in bloom_cols}
                if bloom_cols
                else _bloom_spec_of(prior)
            )
            new_stats = (
                _dir_stats_json(spark, data_dir, cols, bspec)
                if cols or bspec
                else None
            )
            stats_done = True  # retries re-derive the live set, not our stats
            _ph["stats_sec"] += time.time() - _ph_s
        if mode == "append" and head is not None:
            live = prior + [(data_dir, new_stats)]
        else:
            live = [(data_dir, new_stats)]
        # carry the stream high-water mark forward (and raise it if this
        # commit IS a stream append) — re-derived per attempt so a race
        # loser picks up ids the winner just applied
        _ph_h = time.time()
        hwm = _max_streamed_batch(spark, table) if head is not None else None
        if op.startswith(f"{_STREAM_OP}:"):
            own = int(op.split(":", 1)[1])
            hwm = own if hwm is None else max(hwm, own)
        _ph["hwm_sec"] += time.time() - _ph_h
        # a lost claim re-derives the live set from the WINNER's commit
        _ph_m = time.time()
        claimed = _write_manifest_commit(
            spark, table, next_v, live, op, committed_at, stream_hwm=hwm,
            table_schema_json=schema_json,
            prior=prior_state if mode == "append" and head is not None else None,
        )
        _ph["manifest_sec"] += time.time() - _ph_m
        if claimed:
            if _PHASE_SINK is not None:
                _PHASE_SINK.append({k: round(v, 4) for k, v in _ph.items()})
            return next_v
    fs, dp = _hadoop_fs(spark, data_dir)
    fs.delete(dp, True)
    raise RuntimeError(
        f"snapshot commit to {table} lost {max_retries} races; giving up"
    )


def _resolve_version(
    spark: SparkSession, table: str, version: int | None, as_of: float | None
) -> int:
    head = _head_version(spark, table)
    if head is None:
        raise ValueError(f"{table} has no committed snapshots")
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if version is not None:
        fs, vp = _hadoop_fs(spark, f"{_versions_dir(table)}/{_vname(version)}")
        if not fs.exists(vp):  # O(1) probe; full listing only on error
            raise ValueError(
                f"version {version} not in {table} "
                f"(have {_list_versions(spark, table)})"
            )
        return version
    if as_of is not None:
        hist = snapshot_history(spark, table).where(
            F.col("committed_at") <= float(as_of)
        )
        row = hist.agg(F.max("version").alias("v")).first()
        if row is None or row["v"] is None:
            raise ValueError(f"no snapshot of {table} at or before {as_of}")
        return int(row["v"])
    return head


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of: float | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """The table as of ``version`` (or the last commit with
    ``committed_at <= as_of``; default: latest). Only manifest-listed
    dirs are read — orphans from crashed commits never surface.
    ``merge_schema=True`` unions schemas across live dirs (the S7
    schema-evolution posture, catalog.append_with_schema_evolution)."""
    v = _resolve_version(spark, table, version, as_of)
    dirs = _live_dirs(spark, table, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*dirs)


def read_snapshot_range(
    spark: SparkSession,
    table: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """``read_snapshot`` + manifest-stats dir skipping: live dirs whose
    recorded [min,max] for ``col`` cannot meet [lo, hi] are not even
    LISTED into the scan — at 100 TB a time- or key-ranged query reads
    the few dirs that qualify instead of footer-probing thousands.
    Exact: stats are a superset filter (stats-less dirs always scanned)
    and the residual ``col BETWEEN`` filter still applies row-level,
    pushed to parquet. Bounds compare as the stats are stored — numbers
    numerically, strings (and ISO date/timestamp strings) lexically.
    Either bound may be None (open interval)."""
    v = _resolve_version(spark, table, version, None)
    entries = _live_entries(spark, table, v)
    dirs = _prune_entries(entries, col, _json_scalar(lo), _json_scalar(hi))
    if not dirs:
        return read_snapshot(spark, table, version=v).limit(0)
    df = spark.read.option("mergeSchema", "true").parquet(*dirs)
    if lo is not None:
        df = df.where(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.where(F.col(col) <= F.lit(hi))
    return df


def snapshot_lookup(
    spark: SparkSession,
    table: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Point lookup: rows of ``table`` whose ``col`` is in ``values``
    (a small driver-side list — id fetches, not joins), touching the
    fewest dirs the manifest metadata can prove sufficient. Two prunes
    stack before any data file is opened: min/max range stats against
    [min(values), max(values)] (a superset of the IN-set), then per-dir
    Bloom membership of each value when the table was committed with
    ``bloom_cols`` — the prune that still works for uuid-style keys
    whose per-dir ranges all overlap. Residual ``col IN (...)`` filter
    applies row-level, pushed to parquet, so both prunes are
    superset-exact. At 100 TB an id fetch reads the one or two dirs
    that can hold it instead of listing the table."""
    if not values:
        raise ValueError("values must be a non-empty list")
    v = _resolve_version(spark, table, version, None)
    entries = _live_entries(spark, table, v)
    non_null = [x for x in values if x is not None]
    if non_null and len(non_null) == len(values):
        lo = _json_scalar(min(non_null))
        hi = _json_scalar(max(non_null))
        keep = set(_prune_entries(entries, col, lo, hi))
        entries = [e for e in entries if e[0] in keep]
    if entries:
        # probe the manifest blooms with the values themselves, hashed
        # by the SAME JVM expressions the build side used — the typed
        # one-column frame keeps int-vs-long hash bytes consistent
        from pyspark.sql import types as T

        dt = read_snapshot(spark, table, version=v).schema[col].dataType
        probe = spark.createDataFrame(
            [(x,) for x in values],
            schema=T.StructType([T.StructField(col, dt, True)]),
        )
        dirs = _bloom_prune_dirs(probe, [col], entries)
    else:
        dirs = []
    if not dirs:
        return read_snapshot(spark, table, version=v).limit(0)
    df = spark.read.option("mergeSchema", "true").parquet(*dirs)
    return df.where(F.col(col).isin(values) if None not in values
                    else (F.col(col).isin(non_null) | F.col(col).isNull()))


def snapshot_history(spark: SparkSession, table: str) -> DataFrame:
    """(version, operation, committed_at, n_dirs) per commit, one glob
    read over every manifest — KB-scale metadata, never data files.
    ``n_dirs`` is the LIVE dir count as of that commit: delta manifests
    hold only changed-dir rows, so the count is read from the recorded
    ``n_live`` (row count is the legacy-manifest fallback, where every
    row IS a live dir)."""
    versions = _list_versions(spark, table)
    if not versions:
        raise ValueError(f"{table} has no committed snapshots")
    manifests = spark.read.option("mergeSchema", "true").parquet(
        *(f"{_versions_dir(table)}/{_vname(v)}" for v in versions)
    )
    n_dirs = (
        F.coalesce(F.max("n_live"), F.count(F.lit(1)))
        if "n_live" in manifests.columns
        else F.count(F.lit(1))
    )
    return (
        manifests.groupBy("version")
        .agg(
            F.first("operation").alias("operation"),
            F.first("committed_at").alias("committed_at"),
            n_dirs.alias("n_dirs"),
        )
        .orderBy("version")
    )


def rollback_snapshot(spark: SparkSession, table: str, version: int) -> int:
    """Restore the live set of ``version`` as a NEW commit (history is
    append-only — the bad commits stay inspectable). Returns the new
    version number."""
    versions = _list_versions(spark, table)
    if version not in versions:
        raise ValueError(f"version {version} not in {table} (have {versions})")
    restored_schema = table_schema(spark, table, version)
    for _ in range(10):
        next_v = _head_version(spark, table) + 1
        live = _live_entries(spark, table, version)  # stats ride along
        # per-attempt stamp: keeps committed_at monotonic in version
        if _write_manifest_commit(
            spark,
            table,
            next_v,
            live,
            f"rollback:{version}",
            time.time(),
            stream_hwm=_max_streamed_batch(spark, table),
            table_schema_json=restored_schema.json(),
        ):
            return next_v
    raise RuntimeError(f"rollback of {table} lost 10 commit races; giving up")


_STREAM_OP = "stream-append"


def _max_streamed_batch(spark: SparkSession, table: str) -> int | None:
    """Highest stream batch id the table has applied — the replay guard.

    Fast path — ONE head-manifest read: ``stream_hwm`` is carried
    forward on EVERY commit (each writer records
    max(prior ids, own id)), so a head manifest that HAS the column is
    authoritative by induction: its value plus its own operation parse
    IS the table maximum. This runs inside every commit; without the
    fast path the per-commit glob over all manifests made commit cost
    grow with version count (the round-8 commit-loop smokes). Legacy
    head manifests (no ``stream_hwm`` column) fall back to the full
    glob over every retained manifest — paid once per legacy table,
    since the next commit records the column."""
    versions = _list_versions(spark, table)
    if not versions:
        return None
    head = _read_manifest(spark, table, versions[-1])
    if "stream_hwm" in head.columns:
        row = head.select(
            F.max(F.col("stream_hwm").cast("long")).alias("b"),
            F.max(
                F.when(
                    F.col("operation").startswith(f"{_STREAM_OP}:"),
                    F.split(F.col("operation"), ":").getItem(1).cast("long"),
                )
            ).alias("a"),
        ).first()
        vals = [v for v in (row["a"], row["b"]) if v is not None]
        return max(int(v) for v in vals) if vals else None
    m = spark.read.option("mergeSchema", "true").parquet(
        *(f"{_versions_dir(table)}/{_vname(v)}" for v in versions)
    )
    parsed = F.max(
        F.when(
            F.col("operation").startswith(f"{_STREAM_OP}:"),
            F.split(F.col("operation"), ":").getItem(1).cast("long"),
        )
    ).alias("a")
    carried = (
        F.max(F.col("stream_hwm").cast("long"))
        if "stream_hwm" in m.columns
        else F.max(F.lit(None).cast("long"))
    ).alias("b")
    row = m.agg(parsed, carried).first()
    vals = [v for v in (row["a"], row["b"]) if v is not None]
    return max(int(v) for v in vals) if vals else None


def snapshot_append_batch(
    spark: SparkSession, table: str, df: DataFrame, batch_id: int
) -> int | None:
    """Append one micro-batch as a snapshot version, exactly once: the
    batch id rides the manifest's ``operation`` field, so data and
    applied-id commit in the SAME atomic rename (no separate batch
    marker: the manifest already is the commit).
    A replayed batch (id ≤ the recorded max) appends nothing — a crash
    between data-dir write and manifest rename leaves an invisible,
    vacuumable orphan and the replay writes fresh. Single stream writer
    per table (ids are per-query); ad-hoc batch commits interleave
    safely — they carry no stream id. Returns the committed version, or
    None for a skipped replay."""
    last = _max_streamed_batch(spark, table)
    if last is not None and int(batch_id) <= last:
        return None
    return commit_snapshot(
        spark, table, df, mode="append", operation=f"{_STREAM_OP}:{int(batch_id)}"
    )


def streaming_snapshot_append(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    refresh_views: list[dict] | None = None,
    compact_every: int | None = None,
    compact_small_mb: int = 64,
    compact_target_mb: int = 128,
):
    """foreachBatch writer streaming micro-batches into a snapshot table
    — every batch becomes a time-travelable version, exactly once across
    checkpoint loss. Returns the UNSTARTED writer (caller picks trigger
    and calls .start()).

    ``refresh_views`` chains incrementally maintained rollups onto the
    ingest (each dict = ``mview_refresh`` kwargs minus spark/src_table:
    ``view_table``, ``key_cols``, ``aggs``, optional ``derived_keys``):
    after a batch commits, each view folds exactly the new rows — the
    streaming end of the reference's dbt rollup models, with no rescan.
    Exactly-once composes: a replayed batch appends nothing AND the
    view's applied-version cursor makes its refresh a no-op; a crash
    between append and refresh just means the NEXT batch's refresh
    folds both deltas (the view lags the table by at most one batch,
    it never double-counts or loses one).

    ``compact_every=N`` runs INCREMENTAL compaction
    (``compact_snapshot(only_small_mb=…)``) inline after every N-th
    batch commit — the self-tidying ingest loop: a day of 5 s
    micro-batch dirs coalesces as it lands instead of waiting for a
    nightly job, and already-right-sized dirs survive by reference so
    the steady-state cost stays proportional to the last N batches.
    Exactly-once composes untouched: compaction is its own atomic
    commit of the SAME rows (replay guard carried forward), a crash
    between append and compaction just defers tidying, and a replayed
    batch triggers no compaction (the append was a no-op). NOTE:
    downstream ``snapshot_changes``/DataSource tails see compaction as
    a rewrite crossing — pair with keyed consumers or
    ``on_rewrite='bootstrap'``; mview refreshes chained via
    ``refresh_views`` run BEFORE the compaction of their trigger batch
    and recompute-on-crossing by default, so they stay exact."""
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be a positive batch count")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        committed = snapshot_append_batch(spark, table, batch_df, batch_id)
        if refresh_views:
            from .mview import mview_refresh

            for spec in refresh_views:
                mview_refresh(spark, table, **spec)
        if (
            compact_every
            and committed is not None
            and int(batch_id) % int(compact_every) == 0
        ):
            compact_snapshot(
                spark,
                table,
                target_file_mb=compact_target_mb,
                only_small_mb=compact_small_mb,
            )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(process)
    )


def snapshot_changes(
    spark: SparkSession, table: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Rows ADDED between two versions — the change feed an incremental
    consumer tails instead of rescanning the table (the Delta CDF idea
    for append-mode history). Exact and cheap for append/stream commits:
    the inserted rows are precisely the data dirs in ``to``'s live set
    that ``from``'s lacks, so the read touches ONLY new files.

    Refuses ranges that cross an overwrite/rollback/compaction (``to``'s
    live set must be a superset of ``from``'s): across a rewrite,
    dir-set difference no longer means row-level inserts — the consumer
    must resync from a full read instead of silently double-counting."""
    versions = _list_versions(spark, table)
    to_version = versions[-1] if to_version is None else to_version
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in {table} (have {versions})")
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    old = set(_live_dirs(spark, table, from_version))
    new = _live_dirs(spark, table, to_version)
    if not old <= set(new):
        raise ValueError(
            f"versions {from_version}..{to_version} of {table} cross a "
            "rewrite (overwrite/rollback/compact) — dir diff is not a row "
            "change feed there; resync from a full read"
        )
    added = [d for d in new if d not in old]
    if not added:
        return read_snapshot(spark, table, version=to_version).limit(0)
    return spark.read.parquet(*added)


def snapshot_sync(
    spark: SparkSession,
    table: str,
    from_version: int,
    key_cols: list[str] | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """The incremental consumer's one call: rows to apply to catch up
    from ``from_version``. Append-only ranges take the file-diff fast
    path (``snapshot_changes`` — reads ONLY new files, every row tagged
    ``_change_type='insert'``); a range crossing a rewrite falls back to
    the keyed CDC diff when ``key_cols`` is given, or re-raises the
    rewrite refusal when it is not (a keyless consumer must full-resync
    — silently switching to a table scan would hide a 100 TB read
    behind a tail call). With ``key_cols`` both paths emit the same
    column order (keys, values, ``_change_type``), so a
    foreachBatch-style consumer handles either."""
    try:
        fast = snapshot_changes(spark, table, from_version, to_version).withColumn(
            "_change_type", F.lit("insert")
        )
        if key_cols:
            rest = [c for c in fast.columns if c not in key_cols and c != "_change_type"]
            fast = fast.select(*key_cols, *rest, "_change_type")
        return fast
    except ValueError as e:
        if "cross a rewrite" not in str(e) or key_cols is None:
            raise
    return snapshot_diff(spark, table, key_cols, from_version, to_version)


def tail_cursor(spark: SparkSession, cursor_path: str) -> int | None:
    """Last fully-consumed table version recorded under ``cursor_path``
    (None = the tail has never committed a batch)."""
    fs, p = _hadoop_fs(spark, cursor_path.rstrip("/"))
    if not fs.exists(p):
        return None
    best = None
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("c") and name[1:].isdigit():
            v = int(name[1:])
            if best is None or v > best:
                best = v
    return best


def _commit_cursor(spark: SparkSession, cursor_path: str, version: int) -> None:
    base = cursor_path.rstrip("/")
    tmp = f"{base}/__ctmp_{uuid.uuid4().hex[:12]}"
    fs, tmp_p = _hadoop_fs(spark, tmp)
    fs.mkdirs(tmp_p)
    # losing the claim is fine: a marker for this version already exists,
    # i.e. the batch is already recorded as consumed
    _claim_version(spark, tmp, f"{base}/c{version:0{_V_WIDTH}d}")


def snapshot_tail(
    spark: SparkSession,
    table: str,
    cursor_path: str,
    process,
    key_cols: list[str] | None = None,
    max_rounds: int = 1,
    poll=None,
    on_rewrite: str = "raise",
) -> int | None:
    """Continuous consumer over a snapshot table's change feed — the
    piece that closes the produce→consume loop: producers stream in via
    ``streaming_snapshot_append`` (exactly-once), downstream consumers
    tail the table out with this, and neither rescans history.

    Each round resolves the table head and, when it moved past the
    durable cursor, delivers ONE batch to ``process(batch_df,
    from_version, to_version, mode)``:

    - ``mode='bootstrap'`` (``from_version=None``): the full table state
      at head — the first call ever, and (with
      ``on_rewrite='bootstrap'``) a keyless tail crossing a
      rewrite/compaction, where dir-diff stops meaning row inserts and
      the consumer must rebuild downstream state from this batch.
    - ``mode='changes'``: ``snapshot_sync``'s output for
      ``(cursor, head]`` — file-diff inserts on append-only ranges
      (reads ONLY new files), keyed CDC rows when ``key_cols`` is given
      and the range crossed a rewrite. Every row carries
      ``_change_type``.

    The cursor (max marker under ``cursor_path``, committed via the same
    atomic rename discipline as table versions) advances AFTER
    ``process`` returns — a crash in between redelivers the same range,
    so delivery is at-least-once and ``to_version`` is the batch id a
    consumer dedupes on (the foreachBatch contract). Single logical
    consumer per cursor_path; concurrent processes sharing one cursor
    may both deliver a range, never skip one.

    ``max_rounds`` bounds the loop; ``poll()`` (e.g. a sleep) runs
    between rounds when provided, letting tests and schedulers inject
    cadence. Returns the final cursor. Caught-up rounds are no-ops
    (``process`` not called)."""
    if on_rewrite not in ("raise", "bootstrap"):
        raise ValueError(f"on_rewrite must be 'raise' or 'bootstrap', got {on_rewrite!r}")

    def _ordered(df: DataFrame) -> DataFrame:
        if key_cols:
            rest = [c for c in df.columns if c not in key_cols and c != "_change_type"]
            return df.select(*key_cols, *rest, "_change_type")
        return df

    cursor = tail_cursor(spark, cursor_path)
    for rnd in range(int(max_rounds)):
        if rnd and poll is not None:
            poll()
        head = _head_version(spark, table)
        if head is None or (cursor is not None and head <= cursor):
            continue
        if cursor is None:
            batch = _ordered(
                read_snapshot(spark, table, version=head, merge_schema=True)
                .withColumn("_change_type", F.lit("insert"))
            )
            process(batch, None, head, "bootstrap")
        else:
            try:
                batch = snapshot_sync(spark, table, cursor, key_cols, head)
                process(batch, cursor, head, "changes")
            except ValueError as e:
                if "cross a rewrite" not in str(e) or on_rewrite != "bootstrap":
                    raise
                batch = _ordered(
                    read_snapshot(spark, table, version=head, merge_schema=True)
                    .withColumn("_change_type", F.lit("insert"))
                )
                process(batch, None, head, "bootstrap")
        _commit_cursor(spark, cursor_path, head)
        cursor = head
    return cursor


def snapshot_diff(
    spark: SparkSession,
    table: str,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Keyed row-level CDC between two versions: the resync path for the
    ranges ``snapshot_changes`` refuses (overwrite/rollback/compaction),
    where dir-set difference stops meaning row inserts. Compares the two
    table states BY KEY and emits one row per change with a
    ``_change_type`` column: ``insert`` (key only in ``to``), ``delete``
    (key only in ``from``, carrying the deleted row's values), and
    ``update_preimage``/``update_postimage`` pairs (key in both, any
    value column differing — the Delta CDF vocabulary). Unchanged keys
    are not emitted. Keys must be unique within each version — a
    duplicate raises at execution (guard folded into the change-type
    expression so Catalyst cannot prune it), because a keyed diff over
    duplicate keys is ambiguous.

    Scale: one hash aggregate per side (map-side combine on the key),
    one shuffle each, a single key-partitioned full-outer join, then a
    map-side explode — nothing driver-side, no O(n^2). Null-safe
    throughout: NULL key fields match each other and NULL-vs-NULL value
    fields are "unchanged". Schema evolution across the range is
    handled by aligning both sides to the union of columns (absent
    columns read as NULL). For append-only ranges prefer
    ``snapshot_changes`` — it reads ONLY the new files, while this scans
    both versions in full."""
    versions = _list_versions(spark, table)
    to_version = versions[-1] if to_version is None else to_version
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in {table} (have {versions})")
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    pre = read_snapshot(spark, table, version=from_version, merge_schema=True)
    post = read_snapshot(spark, table, version=to_version, merge_schema=True)
    for k in key_cols:
        if k not in post.columns or k not in pre.columns:
            raise ValueError(f"key column {k!r} missing from a compared version")
    # union of columns, post's order first — absent side reads as typed NULL
    all_cols = list(post.columns) + [c for c in pre.columns if c not in post.columns]
    val_cols = [c for c in all_cols if c not in key_cols]
    types = {f.name: f.dataType for f in post.schema.fields}
    for f in pre.schema.fields:
        types.setdefault(f.name, f.dataType)

    def _keyed(df: DataFrame) -> DataFrame:
        aligned = df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
                for c in all_cols
            ]
        )
        return aligned.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("__n"),
            F.first(F.struct(*[F.col(c) for c in val_cols])).alias("__v"),
        )

    p, q = _keyed(pre).alias("p"), _keyed(post).alias("q")
    cond = None
    for k in key_cols:
        c = p[k].eqNullSafe(q[k])
        cond = c if cond is None else cond & c
    j = p.join(q, cond, "full_outer")
    # fold the duplicate-key guards into the presence tests themselves
    # (assert_true is NULL on success → coalesce 0): a standalone guard
    # column would be pruned by Catalyst and never evaluated, and it
    # must fire BEFORE the explode drops "unchanged" rows
    guard = F.coalesce(
        F.assert_true(
            (F.coalesce(F.col("p.__n"), F.lit(1)) <= 1)
            & (F.coalesce(F.col("q.__n"), F.lit(1)) <= 1),
            F.lit(f"snapshot_diff: duplicate key in {table} "
                  f"(versions {from_version}..{to_version})"),
        ).cast("long"),
        F.lit(0),
    )
    pre_n, post_n = F.col("p.__n") + guard, F.col("q.__n") + guard
    pre_v, post_v = F.col("p.__v"), F.col("q.__v")

    def _tagged(ct: str, v):
        return F.struct(F.lit(ct).alias("ct"), v.alias("v"))

    changes = (
        F.when(pre_n.isNull(), F.array(_tagged("insert", post_v)))
        .when(post_n.isNull(), F.array(_tagged("delete", pre_v)))
        .when(
            ~pre_v.eqNullSafe(post_v),
            F.array(
                _tagged("update_preimage", pre_v),
                _tagged("update_postimage", post_v),
            ),
        )
        .otherwise(F.slice(F.array(_tagged("", pre_v)), 1, 0))  # typed empty
    )
    keys = [F.coalesce(p[k], q[k]).alias(k) for k in key_cols]
    out = j.select(*keys, F.explode(changes).alias("__e"))
    return out.select(
        *key_cols,
        *[F.col(f"__e.v.{c}").alias(c) for c in val_cols],
        F.col("__e.ct").alias("_change_type"),
    )


def snapshot_merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
    update_exprs: dict | None = None,
    operation: str | None = None,
    max_retries: int = 3,
) -> int:
    """MERGE INTO for snapshot tables — the write-side dual of
    ``snapshot_diff``: matched keys take the update row's values,
    unmatched update rows insert, and rows whose ``delete_col`` flag is
    true delete (a delete of an absent key is a no-op, like SQL MERGE).
    Commits one new version; history stays time-travelable and
    ``snapshot_diff`` across the merge reports exactly the applied
    changes.

    ``update_exprs`` ({col: fn(existing, update) -> Column}) overrides
    the matched-row value for those columns with a COMBINE of the
    existing and incoming values instead of a replace — SQL MERGE's
    ``UPDATE SET c = t.c + s.c`` shape, the primitive counter upserts
    and incremental materialized views are built on. Unmatched update
    rows still insert their own values verbatim (for associative
    combines like sum/count/min/max the incoming partial IS the correct
    initial state). Keys cannot be combined. ``operation`` overrides the
    manifest's recorded operation string (default ``merge:{n}d``) —
    consumers like the mview refresher ride their replay cursor on it so
    data and cursor commit in ONE atomic rename.

    Copy-on-write bounded to TOUCHED dirs (the Delta/Iceberg CoW
    posture): a key-column-pruned scan + semi-join discovers which live
    data dirs contain matched keys, ONLY those dirs are read in full and
    rewritten (merged with the updates), and the new manifest keeps
    every untouched dir by reference — at 100 TB a small merge batch
    rewrites megabytes, not the table. Update keys must be unique (an
    assert_true folded into the plan raises otherwise — one source row
    per target key, the MERGE ambiguity rule); every matching target row
    takes the update's values. Schema evolution: output columns are the
    union of both schemas, absent side NULL. A lost commit race
    recomputes the whole merge against the winner's table state (the
    optimistic-concurrency posture; updates are re-resolved, so
    re-merging is correct by construction)."""
    if delete_col is not None and delete_col not in updates.columns:
        raise ValueError(f"delete_col {delete_col!r} not in updates")
    for k in key_cols:
        if k not in updates.columns:
            raise ValueError(f"key column {k!r} missing from updates")
    for c in update_exprs or {}:
        if c in key_cols:
            raise ValueError(f"update_exprs cannot target key column {c!r}")
        if c not in updates.columns:
            raise ValueError(f"update_exprs column {c!r} not in updates")
    base = table.rstrip("/")
    upd_vals = [c for c in updates.columns if c not in key_cols and c != delete_col]
    # one row per key, duplicate update keys raise at execution (guard
    # folded into the kept struct so Catalyst cannot prune it)
    u_guard = F.coalesce(
        F.assert_true(
            F.col("__un") <= 1,
            F.lit(f"snapshot_merge: duplicate key in updates for {table}"),
        ).cast("long"),
        F.lit(0),
    )
    uv = (
        F.first(F.struct(*[F.col(c) for c in upd_vals]))
        if upd_vals
        else F.first(F.lit(0))
    )
    u1 = (
        updates.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("__un"),
            uv.alias("__uv"),
            (
                F.max(F.col(delete_col).cast("boolean"))
                if delete_col is not None
                else F.max(F.lit(False))
            ).alias("__udel"),
        )
        .select(
            *key_cols,
            "__un",
            "__uv",
            # u_guard is coalesced to 0 on success, so this OR is a
            # no-op — it exists to keep the duplicate-key assert in
            # every consumer of the update rows
            (F.col("__udel") | (u_guard > 0)).alias("__udel"),
        )
    )

    # one tiny agg: the update batch's key range, for manifest-stats
    # dir skipping in the discovery scan (first key column only). NULL
    # key fields matter: min/max ignore NULLs and a manifest's stats do
    # too, so when ANY update row carries a NULL key field the range
    # prune is disabled — a NULL-keyed match could live in any dir.
    k0 = key_cols[0]
    null_key = None
    for k in key_cols:
        t = F.col(k).isNull()
        null_key = t if null_key is None else (null_key | t)
    krow = u1.agg(
        F.min(k0).alias("n"),
        F.max(k0).alias("x"),
        F.max(null_key).alias("hasnull"),
    ).first()
    k_lo, k_hi = _json_scalar(krow["n"]), _json_scalar(krow["x"])
    if krow["hasnull"]:
        k_lo = k_hi = None
    constraints = get_snapshot_constraints(spark, table)

    for _ in range(max_retries):
        head = _head_version(spark, table)
        if head is None:
            raise ValueError(f"{table} has no committed snapshots")
        entries, ckpt_base = _live_state(spark, table, head)
        live = [p for p, _ in entries]
        # manifest-stats pruning: dirs whose k0 range cannot meet the
        # update batch need not even be SCANNED for discovery — they
        # are untouched by construction (min/max is a superset filter)
        candidates = (
            _prune_entries(entries, k0, k_lo, k_hi)
            if k_lo is not None or k_hi is not None
            else list(live)
        )
        if candidates:
            # bloom pruning stacks on the range prune: dirs whose
            # manifest bloom proves no update key present are dropped
            # from discovery WITHOUT reading their files — the prune
            # that still works when every dir's [min,max] spans the key
            # space (uuid keys) or the update batch carries NULL keys
            cset = set(candidates)
            candidates = _bloom_prune_dirs(
                u1, key_cols, [e for e in entries if e[0] in cset]
            )
        by_name = {d.rstrip("/").rsplit("/", 1)[-1]: d for d in live}
        tgt = spark.read.option("mergeSchema", "true").parquet(*live)
        tgt_cols = tgt.columns
        dirname = F.regexp_extract(F.input_file_name(), "/data/([^/]+)/", 1)
        if candidates:
            scan = spark.read.option("mergeSchema", "true").parquet(*candidates)
            # null-SAFE discovery join: the merge join below matches on
            # eqNullSafe, so discovery must too — a name-list semi-join
            # would use null-unsafe equality and miss NULL-keyed
            # matches, leaving their dir unrewritten (duplicate keys)
            s = scan.select(*key_cols, dirname.alias("__dn")).alias("s")
            u_keys = u1.select(*key_cols).alias("uk")
            disc = None
            for k in key_cols:
                c = F.col(f"s.{k}").eqNullSafe(F.col(f"uk.{k}"))
                disc = c if disc is None else disc & c
            touched_names = [
                r["__dn"]
                for r in s.join(u_keys, disc, "left_semi")
                .select("__dn")
                .distinct()
                .collect()
            ]
        else:
            touched_names = []
        touched = [by_name[n] for n in touched_names]
        all_cols = list(tgt_cols) + [c for c in upd_vals if c not in tgt_cols]
        types = {f.name: f.dataType for f in tgt.schema.fields}
        for f in updates.schema.fields:
            types.setdefault(f.name, f.dataType)

        def _aligned_tgt(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
                    for c in all_cols
                ]
            )

        def _from_update(c: str):
            if c in key_cols:
                return F.col(f"u.{c}")
            if c in upd_vals:
                return F.col(f"u.__uv.{c}")
            return F.lit(None).cast(types[c])

        def _keys_eq(left: str, right: str):
            cond = None
            for k in key_cols:
                c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
                cond = c if cond is None else cond & c
            return cond

        if touched:
            t = _aligned_tgt(spark.read.option("mergeSchema", "true").parquet(*touched))
            j = t.alias("t").join(u1.alias("u"), _keys_eq("t", "u"), "left_outer")
            matched = F.col("u.__un").isNotNull()
            def _matched_value(c: str):
                fn = (update_exprs or {}).get(c)
                if fn is not None:
                    return fn(F.col(f"t.{c}"), _from_update(c))
                return _from_update(c)

            kept = j.where(~matched | ~F.col("u.__udel")).select(
                *[
                    F.when(matched, _matched_value(c))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    for c in all_cols
                ]
            )
            existing_keys = t.select(*key_cols)
        else:
            kept = None
            existing_keys = None
        ins = u1.alias("u")
        if existing_keys is not None:
            ins = ins.join(
                existing_keys.alias("e"), _keys_eq("u", "e"), "left_anti"
            ).alias("u")
        inserts = ins.where(~F.col("u.__udel")).select(
            *[_from_update(c).alias(c) for c in all_cols]
        )
        new_rows = inserts if kept is None else kept.unionByName(inserts)
        # CHECK constraints ride the rewrite's own pass: a violating
        # update/insert aborts the write, no version is claimed, the
        # table stays at head
        new_rows = _apply_check_constraints(new_rows, constraints, table)
        merged_schema_json = _merged_schema_json(
            table_schema(spark, table, head), new_rows
        )

        data_dir = f"{base}/data/{uuid.uuid4().hex}"
        writer = new_rows.write.mode("errorifexists")
        if partition_by:
            # keep the table's hive layout in the rewritten dir so
            # partition pruning holds across merges
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        scols = _stats_cols_of(entries)
        bspec = _bloom_spec_of(entries)
        new_stats = (
            _dir_stats_json(spark, data_dir, scols, bspec)
            if scols or bspec
            else None
        )
        new_live = [e for e in entries if e[0] not in set(touched)] + [
            (data_dir, new_stats)
        ]
        op = operation or f"merge:{len(touched)}d"
        if _write_manifest_commit(
            spark,
            table,
            head + 1,
            new_live,
            op,
            time.time(),
            stream_hwm=_max_streamed_batch(spark, table),
            table_schema_json=merged_schema_json,
            prior=(entries, ckpt_base),
        ):
            return head + 1
        fs, dp = _hadoop_fs(spark, data_dir)
        fs.delete(dp, True)  # lost the race: recompute against the winner
    raise RuntimeError(f"snapshot merge to {table} lost {max_retries} races")


def _predicate_touched_dirs(
    spark: SparkSession, live: list[str], pred
) -> list[str]:
    """Live dirs containing at least one row where ``pred`` is TRUE —
    the discovery scan for predicate DML. Column-pruned to the
    predicate's columns (plus the file-name metadata expression) and
    parquet-footer-pruned, so at 100 TB discovery reads the predicate
    columns of candidate row groups, never whole rows; the driver
    transfer is dir names only."""
    dirname = F.regexp_extract(F.input_file_name(), "/data/([^/]+)/", 1)
    scan = spark.read.option("mergeSchema", "true").parquet(*live)
    names = {
        r["__dn"]
        for r in scan.where(F.coalesce(pred, F.lit(False)))
        .select(dirname.alias("__dn"))
        .distinct()
        .collect()
    }
    by_name = {d.rstrip("/").rsplit("/", 1)[-1]: d for d in live}
    return [by_name[n] for n in names]


def _dml_rewrite(
    spark: SparkSession,
    table: str,
    pred,
    rewrite,
    op_of,
    partition_by: list[str] | None,
    max_retries: int,
) -> int:
    """Shared copy-on-write loop for predicate DML (DELETE/UPDATE):
    discover touched dirs, rewrite ONLY those through ``rewrite``, keep
    everything else by reference, commit optimistically (a lost race
    re-derives discovery against the winner's live set). No matching
    row anywhere → no commit, the current head is returned."""
    base = table.rstrip("/")
    if _head_version(spark, table) is None:
        raise ValueError(f"{table} has no committed snapshots")
    constraints = get_snapshot_constraints(spark, table)
    for _ in range(max_retries):
        head = _head_version(spark, table)
        entries, ckpt_base = _live_state(spark, table, head)
        live = [p for p, _ in entries]
        touched = _predicate_touched_dirs(spark, live, pred)
        if not touched:
            return head
        head_schema = table_schema(spark, table, head)
        new_rows = _apply_check_constraints(
            rewrite(spark.read.option("mergeSchema", "true").parquet(*touched)),
            constraints,
            table,
            head_schema,
        )
        data_dir = f"{base}/data/{uuid.uuid4().hex}"
        writer = new_rows.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        scols = _stats_cols_of(entries)
        bspec = _bloom_spec_of(entries)
        new_stats = (
            _dir_stats_json(spark, data_dir, scols, bspec)
            if scols or bspec
            else None
        )
        new_live = [e for e in entries if e[0] not in set(touched)] + [
            (data_dir, new_stats)
        ]
        if _write_manifest_commit(
            spark,
            table,
            head + 1,
            new_live,
            op_of(len(touched)),
            time.time(),
            stream_hwm=_max_streamed_batch(spark, table),
            table_schema_json=head_schema.json(),
            prior=(entries, ckpt_base),
        ):
            return head + 1
        fs, dp = _hadoop_fs(spark, data_dir)
        fs.delete(dp, True)  # lost the race: re-discover against the winner
    raise RuntimeError(f"snapshot DML on {table} lost {max_retries} races")


def snapshot_replace_where(
    spark: SparkSession,
    table: str,
    predicate,
    df: DataFrame,
    partition_by: list[str] | None = None,
    max_retries: int = 3,
    enforce_predicate: bool = True,
    evolve_schema: bool = False,
) -> int:
    """Delta Lake's ``replaceWhere`` (and dbt's ``insert_overwrite``
    incremental strategy) as ONE atomic commit: rows matching
    ``predicate`` are deleted and ``df`` inserted, together — a crash
    can never leave the region deleted but not refilled (the
    two-statement delete-then-append formulation can).

    Copy-on-write bounded exactly like predicate DML: only dirs
    containing a matching row are read and rewritten (their
    non-matching rows survive into the new dir alongside ``df``);
    untouched dirs ride by reference, so replacing one day's partition
    of a 100 TB table rewrites that day, not the table. When NO live
    dir matches, the call degrades to a plain append commit.

    ``enforce_predicate=True`` (Delta's contract) folds an assert into
    the plan: every incoming row must satisfy the predicate — silently
    inserting rows OUTSIDE the replaced region would make the op
    non-idempotent on re-run. Constraints and schema enforcement apply
    as on every commit: shared columns must keep their exact type, and
    NEW columns are rejected unless ``evolve_schema=True``, in which
    case the manifest's recorded table schema evolves to the union
    (exactly ``commit_snapshot(mode='append')``'s contract — without
    the check, new columns would land in the data dir while the
    manifest schema stayed old, so plain reads silently dropped them)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    incoming = df
    if enforce_predicate:
        guard = F.coalesce(
            F.assert_true(
                F.coalesce(pred, F.lit(False)),
                F.lit(f"replace_where on {table}: incoming row outside the predicate"),
            ).cast("long"),
            F.lit(0),
        )
        # fold the guard into the first column via a WHEN with no
        # otherwise — `when(c, x).otherwise(x)` would constant-fold the
        # equal branches and prune the assert; this form cannot (on
        # success assert_true is NULL -> guard 0 -> the column passes
        # through; on violation the assert throws first)
        c0 = df.columns[0]
        incoming = df.select(
            F.when(guard == 0, F.col(c0)).alias(c0),
            *[F.col(c) for c in df.columns[1:]],
        )
    base = table.rstrip("/")
    if _head_version(spark, table) is None:
        raise ValueError(f"{table} has no committed snapshots")
    constraints = get_snapshot_constraints(spark, table)
    for _ in range(max_retries):
        head = _head_version(spark, table)
        entries, ckpt_base = _live_state(spark, table, head)
        live = [p for p, _ in entries]
        touched = _predicate_touched_dirs(spark, live, pred)
        head_schema = table_schema(spark, table, head)
        # re-checked per attempt: a race winner may have evolved the
        # schema, and our commit must merge against THEIRS
        _check_append_schema(head_schema, df, evolve_schema, table)
        schema_json = (
            _merged_schema_json(head_schema, df)
            if evolve_schema and head_schema is not None
            else (head_schema.json() if head_schema is not None else df.schema.json())
        )
        if touched:
            kept = (
                spark.read.option("mergeSchema", "true")
                .parquet(*touched)
                .where(~F.coalesce(pred, F.lit(False)))
            )
            new_rows = kept.unionByName(incoming, allowMissingColumns=True)
        else:
            new_rows = incoming
        new_rows = _apply_check_constraints(new_rows, constraints, table, head_schema)
        data_dir = f"{base}/data/{uuid.uuid4().hex}"
        writer = new_rows.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        scols = _stats_cols_of(entries)
        bspec = _bloom_spec_of(entries)
        new_stats = (
            _dir_stats_json(spark, data_dir, scols, bspec) if scols or bspec else None
        )
        new_live = [e for e in entries if e[0] not in set(touched)] + [
            (data_dir, new_stats)
        ]
        if _write_manifest_commit(
            spark,
            table,
            head + 1,
            new_live,
            f"replace_where:{len(touched)}d",
            time.time(),
            stream_hwm=_max_streamed_batch(spark, table),
            table_schema_json=schema_json,
            prior=(entries, ckpt_base),
        ):
            return head + 1
        fs, dp = _hadoop_fs(spark, data_dir)
        fs.delete(dp, True)  # lost the race: re-discover against the winner
    raise RuntimeError(f"snapshot replace_where on {table} lost {max_retries} races")


def snapshot_delete(
    spark: SparkSession,
    table: str,
    predicate,
    partition_by: list[str] | None = None,
    max_retries: int = 3,
) -> int:
    """DELETE FROM ``table`` WHERE ``predicate`` (SQL string or Column)
    as one new copy-on-write version — the takedown/opt-out primitive a
    training-data table needs (purge a domain, a license class, a
    user's documents) with history intact for audit: pre-delete
    versions still time travel until vacuumed, and ``snapshot_diff``
    across the delete reports exactly the removed rows.

    SQL DELETE semantics: rows where the predicate is TRUE go; FALSE
    and NULL stay. Only dirs containing a matching row are read in full
    and rewritten (discovery is a column-pruned scan of the predicate
    columns); everything else survives by reference — deleting one
    domain from a 100 TB table rewrites that domain's dirs, not the
    table. Matches nothing → no commit, returns the current head. For
    key-list deletes prefer ``snapshot_merge(delete_col=...)``, whose
    discovery is bloom/stats-pruned and never scans clean dirs."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return _dml_rewrite(
        spark,
        table,
        pred,
        lambda df: df.where(~F.coalesce(pred, F.lit(False))),
        lambda n: f"delete:{n}d",
        partition_by,
        max_retries,
    )


def snapshot_update(
    spark: SparkSession,
    table: str,
    set_exprs: dict,
    predicate=None,
    partition_by: list[str] | None = None,
    max_retries: int = 3,
) -> int:
    """UPDATE ``table`` SET col = expr [WHERE ``predicate``] as one new
    copy-on-write version. ``set_exprs`` maps existing columns to SQL
    strings or Columns evaluated against the OLD row (standard UPDATE:
    ``{"price": "price * 1.1"}``); new values are cast back to the
    column's current type so untouched dirs and rewritten dirs keep ONE
    schema. Rows where the predicate is FALSE or NULL are untouched;
    only dirs holding a matching row rewrite, the rest survive by
    reference. Matches nothing → no commit. Adding NEW columns is
    schema evolution — use a merge or a fresh commit for that."""
    if not set_exprs:
        raise ValueError("set_exprs must not be empty")
    pred = (
        F.expr(predicate)
        if isinstance(predicate, str)
        else (F.lit(True) if predicate is None else predicate)
    )
    head_df = read_snapshot(spark, table)
    types = {f.name: f.dataType for f in head_df.schema.fields}
    for c in set_exprs:
        if c not in types:
            raise ValueError(
                f"update column {c!r} not in {table} (UPDATE cannot add "
                "columns — commit or merge for schema evolution)"
            )

    def _set_col(c: str):
        e = set_exprs.get(c)
        if e is None:
            return F.col(c)
        new = (F.expr(e) if isinstance(e, str) else e).cast(types[c])
        return (
            F.when(F.coalesce(pred, F.lit(False)), new)
            .otherwise(F.col(c))
            .alias(c)
        )

    def _rewrite(df: DataFrame) -> DataFrame:
        return df.select(*[_set_col(c) for c in df.columns])

    return _dml_rewrite(
        spark,
        table,
        pred,
        _rewrite,
        lambda n: f"update:{n}d",
        partition_by,
        max_retries,
    )


def compact_snapshot(
    spark: SparkSession,
    table: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    only_small_mb: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 6,
) -> int:
    """Rewrite the CURRENT live set as one right-sized commit — the
    small-files answer for stream-ingested snapshot tables (every 5 s
    micro-batch is a version; a day of them is 17k tiny dirs). Sizing
    comes from the live files' actual bytes (one FS listing per live
    dir), so output files land near ``target_file_mb`` regardless of
    row width. History is untouched: pre-compaction versions still time
    travel, and ``vacuum_snapshots`` reclaims the small dirs once they
    age out of the retention window. Returns the new version.

    ``cluster_by`` range-partitions + sorts the rewrite on those
    columns (Delta's OPTIMIZE ZORDER intent for the common 1-2 column
    case): each output FILE then covers a tight, near-disjoint value
    range, so parquet footer min/max pruning — which Spark applies on
    every later filtered scan — skips whole files, compounding with the
    manifest-level dir skipping. Mutually exclusive with
    ``partition_by`` (hive dirs already cluster those columns).

    ``only_small_mb`` makes compaction INCREMENTAL (Delta's OPTIMIZE on
    a live table): only dirs totalling under that many MB are read and
    coalesced into one new right-sized dir; already-right-sized dirs
    survive BY REFERENCE with their stats. The steady-state cost of
    keeping a stream-ingested table tidy is then proportional to the
    day's micro-batches, not the table — at 100 TB the difference
    between a nightly job and an impossible one. No-op (returns the
    current version) when fewer than two dirs qualify.

    ``zorder_by`` lays the rewrite out along the MORTON CURVE of 2+
    columns (Delta's OPTIMIZE ZORDER, operators/zorder.py): each output
    file covers a small hyper-rectangle of the value space, so footer
    min/max pruning skips files for predicates on ANY subset of the
    columns — where ``cluster_by``'s lexicographic sort helps only the
    leading one. Mutually exclusive with cluster_by/partition_by."""
    if target_file_mb <= 0:
        raise ValueError("target_file_mb must be positive")
    layouts = [x for x in (cluster_by, partition_by, zorder_by) if x]
    if len(layouts) > 1:
        raise ValueError(
            "cluster_by, partition_by and zorder_by are mutually exclusive"
        )

    def _sized(n_files: int, df: DataFrame) -> DataFrame:
        if zorder_by:
            from .zorder import zorder_layout

            return zorder_layout(df, zorder_by, n_files, bits=zorder_bits)
        if cluster_by:
            return df.repartitionByRange(
                n_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        if partition_by:
            return df.repartition(n_files, *partition_by)
        return df.repartition(n_files)

    def _dir_bytes(d: str) -> int:
        fs, p = _hadoop_fs(spark, d)
        total = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            total += it.next().getLen()
        return total

    if _head_version(spark, table) is None:
        raise ValueError(f"{table} has no committed snapshots")

    # Both modes share ONE optimistic-concurrency loop: every attempt
    # re-reads the head version, re-derives which dirs to rewrite, and
    # keeps everything else BY REFERENCE — so a concurrent append that
    # lands between source-set resolution and the version claim makes
    # our claim lose, and the retry picks the new dir up by reference
    # instead of silently dropping it (full compaction previously
    # committed a blind overwrite here: a lost-update window).
    base = table.rstrip("/")
    for _ in range(10):
        head = _head_version(spark, table)
        entries = _live_entries(spark, table, head)
        sizes = {p: _dir_bytes(p) for p, _ in entries}
        if only_small_mb is None:
            small = [p for p, _ in entries]  # full: rewrite the whole head set
            if not small:
                return head
        else:
            small = [
                p for p, _ in entries if sizes[p] < only_small_mb * 1024 * 1024
            ]
            if len(small) < 2:
                return head  # nothing worth coalescing
        total = sum(sizes[p] for p in small)
        n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))  # ceil
        data_dir = f"{base}/data/{uuid.uuid4().hex}"
        writer = _sized(
            int(n_files),
            spark.read.option("mergeSchema", "true").parquet(*small),
        ).write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        scols = _stats_cols_of(entries)
        bspec = _bloom_spec_of(entries)
        new_stats = (
            _dir_stats_json(spark, data_dir, scols, bspec)
            if scols or bspec
            else None
        )
        new_live = [e for e in entries if e[0] not in set(small)] + [
            (data_dir, new_stats)
        ]
        op = f"compact:{len(small)}->{int(n_files)}f"
        if _write_manifest_commit(
            spark,
            table,
            head + 1,
            new_live,
            op,
            time.time(),
            stream_hwm=_max_streamed_batch(spark, table),
            table_schema_json=table_schema(spark, table, head).json(),
        ):
            return head + 1
        fs, dp = _hadoop_fs(spark, data_dir)
        fs.delete(dp, True)  # lost the race: re-derive the live set
    raise RuntimeError(f"incremental compaction of {table} lost 10 commit races")


def snapshot_detail(spark: SparkSession, table: str) -> dict:
    """DESCRIBE for a snapshot table: one dict for dashboards/ops from
    metadata plus one FS listing per live dir — head version, commit
    count, live dir/file/byte totals, recorded schema, active
    constraints, stream high-water mark. Never reads data rows."""
    versions = _list_versions(spark, table)
    if not versions:
        raise ValueError(f"{table} has no committed snapshots")
    head = versions[-1]
    entries = _live_entries(spark, table, head)
    fs, _ = _hadoop_fs(spark, table)
    n_files = 0
    n_bytes = 0
    for p, _s in entries:
        _, dp = _hadoop_fs(spark, p)
        it = fs.listFiles(dp, True)
        while it.hasNext():
            st = it.next()
            if not st.getPath().getName().startswith(("_", ".")):
                n_files += 1
                n_bytes += st.getLen()
    hist = snapshot_history(spark, table).collect()
    by_v = {int(r["version"]): r for r in hist}
    return {
        "table": table.rstrip("/"),
        "head_version": head,
        "versions_retained": len(versions),
        "head_operation": by_v[head]["operation"],
        "head_committed_at": float(by_v[head]["committed_at"]),
        "live_dirs": len(entries),
        "live_files": n_files,
        "live_bytes": n_bytes,
        "stats_cols": _stats_cols_of(entries),
        "bloom_cols": sorted(_bloom_spec_of(entries)),
        "schema": {
            f.name: f.dataType.simpleString()
            for f in table_schema(spark, table, head).fields
        },
        "constraints": get_snapshot_constraints(spark, table),
        "stream_hwm": _max_streamed_batch(spark, table),
        # delta-log introspection: where the head resolves from and how
        # many vacuum-written sidecar checkpoints the table carries
        "head_checkpoint_base": _ckpt_base_of(spark, table, head),
        "sidecar_ckpts": _list_sidecar_ckpts(spark, table),
    }


def vacuum_snapshots(
    spark: SparkSession,
    table: str,
    keep_versions: int = 2,
    min_age_seconds: float = 3600.0,
    keep_hours: float | None = None,
    dry_run: bool = False,
) -> dict[str, int]:
    """Delete data dirs referenced by NO retained manifest, plus expired
    manifests and orphaned temp/data dirs from crashed commits. Retains
    the last ``keep_versions`` manifests (≥1 — the live table is never
    vacuumable). Destructive by design: time travel beyond the retained
    window is gone after this. Returns counts for the audit log.

    ``keep_hours`` adds TIME-based retention on top (Delta's
    ``VACUUM ... RETAIN`` semantics): every version committed within the
    last N hours is ALSO retained, whatever ``keep_versions`` says — so
    a burst of stream micro-batch versions inside the window survives a
    ``keep_versions=2`` nightly vacuum, and a consumer tailing
    ``snapshot_changes`` from a version inside the window cannot have
    its anchor reaped mid-catch-up.

    ``min_age_seconds`` protects IN-FLIGHT commits: a concurrent
    committer's data dir exists before its manifest does and would look
    orphaned — dirs younger than the threshold are left alone (the
    Delta retention-window posture). Set 0 only when no writer can be
    active.

    ``dry_run=True`` reports exactly what a real run would delete —
    same listing, same liveness decisions, zero deletions — the sanity
    check to schedule before pointing a destructive nightly job at a
    production table."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    base = table.rstrip("/")
    versions = _list_versions(spark, table)
    if not versions:
        raise ValueError(f"{table} has no committed snapshots")
    keep = versions[-keep_versions:]
    if keep_hours is not None:
        cutoff = time.time() - keep_hours * 3600.0
        recent = {
            int(r["version"])
            for r in snapshot_history(spark, table)
            .where(F.col("committed_at") >= cutoff)
            .collect()
        }
        keep = sorted(set(keep) | recent)
    # retained DELTA manifests resolve against a chain that may extend
    # below the retention floor. Before reaping it, pin the floor
    # version's full live listing as a SIDECAR checkpoint (additive —
    # the commit log entry is never rewritten); every retained version
    # above resolves through it. keep is a contiguous tail (count floor
    # and time window are both version-monotone), so one sidecar at the
    # floor covers the whole retained set.
    floor = min(keep)
    if _ckpt_base_of(spark, table, floor) < floor and not dry_run:
        _write_sidecar_checkpoint(spark, table, floor)
    # Liveness is decided by dir BASENAME under {base}/data — the uuid
    # is the identity. Comparing full manifest paths against a path
    # rebuilt from THIS call's table argument silently deletes the live
    # table whenever the spellings differ (file:// URI vs bare path,
    # trailing slash, symlink) even though reads work either way.
    referenced: set[str] = set()
    for v in keep:
        referenced.update(
            d.rstrip("/").rsplit("/", 1)[-1] for d in _live_dirs(spark, table, v)
        )

    fs, data_root = _hadoop_fs(spark, f"{base}/data")
    now_ms = time.time() * 1000.0
    removed_dirs = 0
    if fs.exists(data_root):
        for st in fs.listStatus(data_root):
            p = st.getPath()
            young = now_ms - st.getModificationTime() < min_age_seconds * 1000.0
            if p.getName() not in referenced and not young:
                if not dry_run:
                    fs.delete(p, True)
                removed_dirs += 1
    removed_manifests = 0
    for v in versions:
        if v not in keep:
            _, vp = _hadoop_fs(spark, f"{_versions_dir(table)}/{_vname(v)}")
            if not dry_run:
                fs.delete(vp, True)
            removed_manifests += 1
    # sidecar checkpoints below the retention floor are dead weight —
    # every retained version resolves through the floor's (written
    # above, BEFORE any deletion, so this order is safe)
    for c in _list_sidecar_ckpts(spark, table):
        if c not in keep and not dry_run:
            _, cp = _hadoop_fs(spark, f"{_ckpts_dir(table)}/{_vname(c)}")
            fs.delete(cp, True)
    removed_tmp = 0
    _, root = _hadoop_fs(spark, base)
    for st in fs.listStatus(root):
        young = now_ms - st.getModificationTime() < min_age_seconds * 1000.0
        name = st.getPath().getName()
        if (name.startswith("__vtmp_") or name.startswith("__ktmp_")) and not young:
            if not dry_run:
                fs.delete(st.getPath(), True)
            removed_tmp += 1
    return {
        "removed_data_dirs": removed_dirs,
        "removed_manifests": removed_manifests,
        "removed_tmp_dirs": removed_tmp,
        "retained_versions": len(keep),
        "dry_run": bool(dry_run),
    }
