"""Minimal transaction-log parquet table: ACID appends, copy-on-write
MERGE with FILE-LEVEL pruning, and time travel — no extra packages.

The reference's ``MERGE INTO`` (``etl_target_loader.py:86-151``) runs
against a warehouse that gives it transactions; this engine's plain
parquet ``Warehouse`` emulates MERGE by rewriting the WHOLE table
(correct and atomic, but at 100 TB rewriting a multi-TB dimension to
update 0.1% of keys is the cost problem transactional formats exist to
solve). delta-spark is not installable in this environment, so this
module implements the load-bearing part of the public log-table design
(Armbrust et al., "Delta Lake: High-Performance ACID Table Storage over
Cloud Object Stores", VLDB 2020) directly:

- ``<root>/_txlog/<version>.json`` — an ordered commit log; each commit
  is newline-delimited JSON actions: ``meta`` (schema, key column),
  ``add`` (immutable data file + row count + per-file key min/max), and
  ``remove``. The LOG is the table; data files are write-once.
- **Atomic commits**: actions are staged to a temp file and published
  with ``os.link`` (fails if the version already exists — atomic
  create). A concurrent writer losing the race re-reads the new
  snapshot and retries (optimistic concurrency). Data files written by
  a crashed transaction are unreferenced by any commit and therefore
  invisible; ``vacuum_uncommitted`` reclaims them.
- **Snapshot isolation / time travel**: a reader resolves the live file
  set at a chosen version and reads exactly those parquet files —
  writers never mutate a file a reader could be holding.
- **File-pruned MERGE (SCD1 upsert)**: per-file [min, max] key stats
  recorded at commit time let the merge rewrite ONLY files whose key
  range can contain an updated key; every other file survives the
  commit untouched (asserted byte-identical by path in tests). Appends
  go through ``repartitionByRange`` on the key, so files carry tight,
  disjoint ranges — at 100 TB a narrow update batch touches a handful
  of files instead of the whole dimension. The stats come from the new
  files' parquet footers on the driver (an aggregate grouped by
  ``input_file_name`` when a footer cannot answer exactly), and every
  bloom of the commit from one exploded, tagged ``bit_or`` job.

Beyond min/max range stats, each data file carries a small per-file
BLOOM FILTER over its keys (``_BLOOM_BITS`` bits, k=4 xxhash-derived
probes, hex-encoded in the log): range pruning is defeated by a file
whose [min, max] happens to straddle an update key it does not contain
(scattered-key upserts against range-partitioned files), while the bloom
keeps the false-positive rewrite rate ~(1-e^{-kn/m})^k (<1% per probe at
~1k keys/file with the default sizing; size m to the target file row
count at scale). Pruning remains conservative — a bloom hit only means
"must rewrite", never a wrong result.

Log listing is kept O(recent) by CHECKPOINT COMPACTION: every
``checkpoint_interval`` commits the writer also materializes the full
live state into ``_txlog/<version>.checkpoint.json``; readers start from
the newest checkpoint at-or-before their version and replay only the
commits after it; a checkpoint that does not parse is skipped in favour
of an older one (commits are never deleted, so the fold is the same).

Besides the merge key, a table may declare extra data-skipping COLUMNS
(``create(..., stats_cols=[...])``, typically the BI date plus a region
or category id): each ``add`` action then records every declared
column's per-file [min, max] (``cstats``), and ``read_stats_range``
prunes on any of them — the per-column min/max discipline of
Delta/Iceberg. Files without a column's stats scan conservatively.

EXPLICIT additive schema evolution (``add_columns``) lands as a
metadata-only commit: later reads surface pre-evolution files' missing
columns as NULL via the declared schema, pre-evolution versions still
time-travel to the old schema, and silent drift stays rejected.

CHANGE DATA FEED (``create(..., change_feed=True)`` +
``read_changes``): Delta-CDF-style row-level change capture — MERGE and
DELETE commits write ``cdf`` change files (pre/post images, inserts,
deletes) at O(changed rows); appends derive their inserts from the add
files with no double-write. Downstream consumers (incremental aggregate
maintenance, index refresh, replication) then track the table for the
cost of its CHANGES instead of re-scanning snapshots — the piece that
turns the table format into a pipeline source at 100 TB.

CROSS-TABLE TRANSACTIONS (``TxCatalog.begin()``) extend the per-table
log with the catalog-coordinated atomic commit real lakehouse catalogs
provide (the ref-swap design of Iceberg REST catalogs / Project Nessie,
both public): writes made through a :class:`CatalogTxn` handle land in
each table's own log as PENDING commits — a normal numbered version
file whose first action names the transaction and its DECISION file —
and stay invisible until the single decision file is atomically created
(``os.link``, the one-object PUT-if-absent every cloud store offers).
Creating the decision with status ``committed`` is THE commit point for
every staged table at once; ``aborted`` (explicit, or presumed-abort
once the grace period passes with no decision) voids them all. Readers
at latest treat an undecided pending as not-yet-arrived; writers and
explicit-version readers resolve it first (raise
:class:`TxnInDoubtError` inside the grace window, force-abort after),
so no commit ever builds on undecided state and time travel stays
stable. The catalog log additionally records a ``publish`` entry per
committed transaction pinning ``{table: version}``, giving consistent
multi-table snapshots (``snapshot_set``) and catalog-version time
travel. Cost at scale: staging is the same O(touched files) as any
commit, the decision is ONE metadata object, and nothing scales with
table count or size.

COLUMN MAPPING (``rename_column`` / ``drop_column``): Delta's
column-mapping design — data files keep their columns under immutable
PHYSICAL names; the declared schema speaks LOGICAL names; a
``column_mapping`` dict in the table meta routes every read, write,
stats lookup, and change-feed file between the two. Rename and drop are
then O(1) metadata-only commits at any table size: pre-rename files
stay fully readable AND fully prunable (cstats/bloom/pval are keyed by
physical names, which never move), time travel resolves each version
under its own names, and a DROPPED column's data can never resurrect —
once mapping is active, newly added logical names get fresh physical
names (the role Delta's field IDs play). Legacy tables are
identity-mapped (physical == logical) until their first rename/drop,
so the mapping costs nothing before it is used.

TYPE WIDENING (``widen_column``, or implicitly via a wider
``mergeSchema`` source): metadata-only widening restricted to the
upcasts the parquet reader performs natively (int chain, float→double,
same-scale decimal precision growth) — old files stay readable with no
rewrite. Writes are type-CHECKED: narrower input upcasts losslessly,
lossy drift is rejected before a file lands.

GENERATED COLUMNS (``create(generated=...)``, Delta's GENERATED ALWAYS
AS): omitted on write → computed; provided → validated pre-commit;
recomputed by predicate UPDATE after its SETs. IDENTITY COLUMNS
(``create(identity_col=...)``): engine-assigned surrogate bigints from
a high-water mark that advances in the data's own commit — unique,
increasing, gaps allowed, race-safe under optimistic concurrency.

APPLY CHANGES (``apply_changes``): the CDC-apply consumer of
``read_changes``' output — per-key netting, upserts + deletes in one
atomic bloom-pruned commit, exactly-once txn markers; the primitive
behind ``streaming.jobs.stream_replicate_table``'s row-level replica.
``export_manifest`` writes the symlink-format manifest so external
engines read a consistent snapshot from a plain file list.

Single-format caveat vs real Delta/Iceberg: single table, stats only on
the merge key + DECLARED columns (not automatically all columns) —
the seam ``operators/merge.py`` needs, not a storage product.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from walmart_project_etl_spark.operators.util import pins


_BLOOM_BITS = 4096   # ~0.5 KB hex per file in the log; <1% FP at ~1k keys
_BLOOM_K = 4
#: merge/read pruning collects the key set's bloom probes driver-side up
#: to this many distinct keys; LARGER sets switch to the in-plan pruner
#: (broadcast the per-file range+bloom stats against the keys DataFrame
#: and aggregate any-match per file) — same per-key range + bloom
#: selectivity at any key-set size, never a range-only fallback
_BLOOM_PROBE_CAP = 100_000


def _bloom_probe(col: str, i: int, bits: int):
    """Probe ``i``'s bit position for ``col`` (xxhash64 seeded by ``i``)."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits))


def _bloom_positions(key_col: str, bits: int = _BLOOM_BITS):
    """k probe bit-positions per key (xxhash64 seeded per probe)."""
    return F.array(*[_bloom_probe(key_col, i, bits)
                     for i in range(_BLOOM_K)])


#: column types whose parquet footer statistics equal Spark's per-file
#: min/max/null-count aggregate exactly (:func:`_footer_stats`): the
#: footer orders integers signed and strings as unsigned UTF-8 bytes,
#: like Spark, and stores a date as its proleptic day number
_FOOTER_TYPES = ("tinyint", "smallint", "int", "bigint", "string", "date")
_EPOCH = datetime.date(1970, 1, 1)
#: the day numbers of 0001-01-01 and 9999-12-31: a Python date's range
_DAY_MIN, _DAY_MAX = -719162, 2932896


def _local_key_prune(rows):
    """Driver-side pruner for a small key set: ``rows`` hold each
    distinct non-NULL key ``__k`` with its bloom positions ``__p``
    (:func:`_bloom_positions`). Returns ``prune(add-actions) ->`` the
    files whose [kmin, kmax] holds some key (bisect over the sorted
    keys, so a key set clustered at both ends of the key space does not
    match every file in between) and whose key bloom may hold it."""
    import bisect
    ks = sorted(r["__k"] for r in rows)
    probe_list = [tuple(int(x) for x in r["__p"]) for r in rows]

    def may_contain(a: dict) -> bool:
        i = bisect.bisect_left(ks, a["kmin"])
        if i >= len(ks) or ks[i] > a["kmax"]:
            return False
        bloom_hex = a.get("bloom")
        if bloom_hex is None:
            return True                  # format-v1 file
        bm = int(bloom_hex, 16)
        return any(all((bm >> p) & 1 for p in probe)
                   for probe in probe_list)

    return lambda actions: [a for a in actions if may_contain(a)]


def _stats_aggs(col: str, dtype: str, group: str, i: int) -> list:
    """Spark's per-file ``min``/``max``/NULL count of ``col`` aliased
    ``__<group>{min,max,null}<i>`` — the aggregate :func:`_footer_stats`
    reproduces. Types other than integral and string take their ISO
    string rendering (the JSON log's form, lexically ordered)."""
    c = F.col(col)
    v = c if dtype in ("tinyint", "smallint", "int", "bigint",
                       "string") else c.cast("string")
    return [F.min(v).alias(f"__{group}min{i}"),
            F.max(v).alias(f"__{group}max{i}"),
            F.sum(c.isNull().cast("long")).alias(f"__{group}null{i}")]


def _footer_stats(path: str, cols: dict[str, str]) -> tuple | None:
    """``(rows, {col: [min, max, null count]})`` of the parquet file at
    ``path``, read from its footer on the driver with no Spark job.
    ``cols`` maps each top-level column (by ``path_in_schema``, so the
    physical name under column mapping) to its Spark type string.
    Values equal Spark's ``min``/``max``/``sum(isNull)`` over the file:
    ints for integral types, str for strings, and the ISO string —
    ``CAST(date AS STRING)`` — for dates; min/max are None when every
    value is NULL. Row groups combine.

    None when the footer cannot answer exactly, and the caller must
    aggregate instead: a type outside ``_FOOTER_TYPES``, a column chunk
    without a null count, a row group holding non-NULL values but no
    min/max (parquet-mr drops binary min/max above 4 KB), a date
    outside 0001–9999, or dates written in Spark's legacy hybrid
    calendar."""
    import pyarrow.parquet as pq

    if any(t not in _FOOTER_TYPES for t in cols.values()):
        return None
    md = pq.read_metadata(path)
    if ("date" in cols.values()
            and b"org.apache.spark.legacyDateTime" in (md.metadata or {})):
        return None
    acc = {c: [None, None, 0] for c in cols}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        chunks = {rg.column(i).path_in_schema: rg.column(i)
                  for i in range(rg.num_columns)}
        for c in cols:
            st = chunks[c].statistics if c in chunks else None
            if st is None or not st.has_null_count:
                return None
            a = acc[c]
            a[2] += st.null_count
            if st.null_count == rg.num_rows:
                continue                 # all-NULL chunk: no min/max
            if not st.has_min_max:
                return None
            lo, hi = st.min_raw, st.max_raw  # ints, or bytes for strings
            a[0] = lo if a[0] is None else min(a[0], lo)
            a[1] = hi if a[1] is None else max(a[1], hi)
    for c, t in cols.items():
        for j in (0, 1):
            v = acc[c][j]
            if v is None:
                continue
            if t == "string":
                try:
                    acc[c][j] = v.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            elif t == "date":
                if not _DAY_MIN <= v <= _DAY_MAX:
                    return None
                acc[c][j] = (_EPOCH
                             + datetime.timedelta(days=v)).isoformat()
    return sum(md.row_group(g).num_rows
               for g in range(md.num_row_groups)), acc


#: default size of a per-file COLUMN bloom (``create(bloom_cols=...)``):
#: 32 Kbit = at most 4 KB hex per file per column in the log, <1% FP at
#: ~2.5k distinct values per file. Larger than the key bloom because a
#: bloom-indexed column is by definition unclustered — every file holds
#: values from the whole domain, so the filter must absorb a full
#: file's distinct count, where the key bloom only supplements already
#: tight [kmin, kmax] ranges.
_COL_BLOOM_BITS = 32768


def _cbounds(a: dict, meta: dict, col: str) -> tuple | None:
    """Add-action ``a``'s recorded ``(min, max)`` of declared stats
    column ``col``; None for a file written before ``col`` was declared.
    ``cstats`` is keyed by PHYSICAL name (stable across renames), so
    files written before a stats column's rename keep pruning."""
    pcol = (meta.get("column_mapping") or {}).get(col, col)
    b = (a.get("cstats") or {}).get(pcol)
    return None if b is None else tuple(b)


def _meta_parts(meta: dict) -> list[str] | None:
    """Declared partition columns as a list — ``partition_by`` is a
    string for single-column tables (every pre-multi-col log) or a list
    for composite layouts (date + tenant)."""
    pb = meta.get("partition_by")
    if pb is None:
        return None
    return [pb] if isinstance(pb, str) else list(pb)


def _layout_matches(a: dict, meta: dict) -> bool:
    """True when the file's ``pval`` was recorded under the CURRENT
    partition layout, compared by PHYSICAL column names — so a
    column-mapping rename of a partition column does not orphan the
    layout (the physical identity is unchanged). Files stamp ``pby``
    (physical) since partition evolution landed; an un-stamped file is
    attributable to the current layout only when the table has never
    evolved — after an evolution its layout is unknowable and the
    pruners must keep it (the residual filter preserves exactness;
    Iceberg solves the same problem with per-spec split planning)."""
    pcols = _meta_parts(meta)
    if pcols is None:
        return False
    mp = meta.get("column_mapping") or {}
    cur = [mp.get(c, c) for c in pcols]
    pby = a.get("pby")
    if pby is not None:
        return list(pby) == cur
    if meta.get("partition_evolved"):
        return False
    return "pval" in a


def _pval_tuple(a: dict) -> tuple:
    """A file's recorded partition value(s) normalized to a tuple —
    scalar ``pval`` for single-column tables, JSON list for composite."""
    pv = a.get("pval")
    return tuple(pv) if isinstance(pv, list) else (pv,)


def _pval_predicate(pcols: list[str], vals: set[tuple]):
    """Residual partition filter: OR over the requested value tuples of
    the per-column equality conjunction — `isin` for the 1-column case."""
    if len(pcols) == 1:
        return F.col(pcols[0]).isin(*[v[0] for v in vals])
    disj = F.lit(False)
    for tv in sorted(vals):
        conj = F.lit(True)
        for c, v in zip(pcols, tv):
            conj = conj & (F.col(c) == F.lit(v))
        disj = disj | conj
    return disj


def _norm_pvals(values, n_cols: int) -> set[tuple]:
    """Caller-supplied partition values normalized to tuples: scalars
    for a 1-column layout, tuples/lists (arity-checked) for composite."""
    out: set[tuple] = set()
    for v in values:
        tv = tuple(v) if isinstance(v, (tuple, list)) else (v,)
        if len(tv) != n_cols:
            raise ValueError(
                f"partition value {v!r} has {len(tv)} component(s); "
                f"table is partitioned by {n_cols} column(s)")
        out.add(tv)
    return out


_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _widens(cur, new) -> bool:
    """True if ``new`` is a strictly wider READER-SAFE supertype of
    ``cur`` — the upcasts Spark's vectorized parquet reader performs
    natively when the declared schema is wider than the file (verified:
    int chain, float→double, same-scale decimal precision growth), so
    widening the DECLARED type keeps every already-written file
    readable with no rewrite. This is the declared-schema widening
    matrix (Delta's "type widening"); value-level input adaptation
    uses the broader :func:`_upcasts`."""
    from pyspark.sql.types import DecimalType
    cs, ns = cur.simpleString(), new.simpleString()
    if cs in _INT_WIDTH and ns in _INT_WIDTH:
        return _INT_WIDTH[ns] > _INT_WIDTH[cs]
    if cs == "float" and ns == "double":
        return True
    if isinstance(cur, DecimalType) and isinstance(new, DecimalType):
        return new.scale == cur.scale and new.precision > cur.precision
    return False


def _upcasts(have, want) -> bool:
    """True if a value of type ``have`` casts LOSSLESSLY to ``want`` —
    the write-side input adaptation: a narrower incoming column is
    silently upcast to the declared type (an int batch into a bigint
    column), anything lossy or incompatible rejects the write."""
    if _widens(have, want):
        return True
    hs, ws = have.simpleString(), want.simpleString()
    if ws == "double" and hs in ("tinyint", "smallint", "int", "float"):
        return True                       # ≤32-bit ints / float: exact
    if ws == "float" and hs in ("tinyint", "smallint"):
        return True                       # ≤16-bit ints: exact in f32
    return False


def _bloom_match_sql() -> str:
    """Boolean SQL over columns ``__p`` (a key's probe positions) and
    ``bloom`` (a file's hex bloom, lowest bits at the STRING END — the
    ``f"{bm:x}"`` rendering): true iff every probe bit is set, i.e. the
    file's bloom may contain the key. Bit ``p`` lives in the hex nibble
    ``p DIV 4`` from the right at bit ``p % 4``; nibbles beyond the
    string (trimmed leading zeros) are 0. A NULL bloom (format-v1 file)
    is conservatively a match. Pure built-in expressions, so the
    over-cap in-plan pruner stays JVM-side."""
    terms = []
    for i in range(_BLOOM_K):
        pos = f"__p[{i}]"
        idx = f"(length(bloom) - CAST({pos} DIV 4 AS INT))"
        nib = (f"IF({idx} < 1, 0, "
               f"CAST(conv(substr(bloom, {idx}, 1), 16, 10) AS INT))")
        terms.append(f"((shiftright({nib}, CAST({pos} % 4 AS INT)) & 1)"
                     f" = 1)")
    return "(bloom IS NULL OR (" + " AND ".join(terms) + "))"


class TxnInDoubtError(RuntimeError):
    """A cross-table transaction has staged this table but not yet
    decided, and it is younger than the grace period — the caller must
    retry (or wait for the transaction to commit/abort). Raised by
    writers and explicit-version readers only; latest-version readers
    simply don't see undecided pendings."""


class TxnAbortedError(RuntimeError):
    """The transaction's decision was already ``aborted`` when commit
    was attempted — either an explicit :meth:`CatalogTxn.abort` or a
    presumed-abort forced by another writer after the grace period.
    Re-run the whole transaction against the current state."""


class ChangeFeedRestoredError(ValueError):
    """The requested change-feed range crosses an UNTRACKED restore
    commit — one written before :meth:`TxTable.restore` materialized
    row-level diffs, or one that crossed a schema change. Such a
    restore reset the live row set without row-tracking the change
    (Delta's behavior for every restore), so folding the feed across
    it silently diverges from the source — incremental consumers must
    RESYNC from a snapshot at-or-after the restore version instead.
    ``restore_version`` is the offending commit. Tracked restores
    (the common case) never raise: their diff flows through the feed
    as ordinary insert/delete rows."""

    def __init__(self, msg: str, restore_version: int):
        super().__init__(msg)
        self.restore_version = restore_version


#: Table features THIS reader build understands (Delta table-features
#: protocol, simplified to the reader side): a table whose meta names a
#: feature outside this set CANNOT be read correctly here — e.g. its
#: files carry deletion vectors this code wouldn't apply. Readers fail
#: loudly (UnsupportedTableFeatureError) instead of returning silently
#: wrong rows; writers stamp the feature into meta IN THE SAME COMMIT
#: that first uses it, so the fence and the feature are atomic.
SUPPORTED_READER_FEATURES = {
    "deletion_vectors", "column_mapping", "type_widening",
    "generated_columns", "identity_columns", "change_data_feed",
    "check_constraints", "row_tracked_restore", "column_blooms",
    "partition_evolution",
}


class UnsupportedTableFeatureError(RuntimeError):
    """The table requires reader features this build does not support —
    reading would silently drop or corrupt rows (e.g. unapplied deletion
    vectors from a future format revision). Upgrade the reader; the
    offending names are in ``.features``."""

    def __init__(self, features: set[str]):
        super().__init__(
            f"table requires unsupported reader feature(s) "
            f"{sorted(features)}; supported here: "
            f"{sorted(SUPPORTED_READER_FEATURES)}")
        self.features = features


def _put_if_absent(dst: str, text: str) -> bool:
    """Publish ``text`` as ``dst`` unless ``dst`` already exists — the
    one way every log object (commit, checkpoint, decision) lands. The
    bytes are written and fsynced under a dot-prefixed ``.tmp-`` name in
    the same directory (every log listing skips those), then
    ``os.link``ed into place: the link is an atomic create that fails
    when ``dst`` exists, so readers see the whole object or nothing and
    exactly one racing writer wins. False when another writer won."""
    d, name = os.path.split(dst)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, dst)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _list_commits(log_dir: str) -> list[int]:
    # strict NNNNNNNN.json match: in-flight temp files and checkpoints
    # must never parse as commits
    return sorted(int(f[:8]) for f in os.listdir(log_dir)
                  if len(f) == 13 and f.endswith(".json")
                  and f[:8].isdigit())


def _list_checkpoints(log_dir: str) -> list[int]:
    return sorted(int(f[:8]) for f in os.listdir(log_dir)
                  if f.endswith(".checkpoint.json") and f[:8].isdigit())


def _newest_checkpoint(log_dir: str, upto: int | None) -> tuple[int, dict]:
    """``(version, payload)`` of the newest checkpoint at-or-before
    ``upto`` that parses; ``(-1, {})`` when none does. A torn checkpoint
    is skipped, never trusted: commit files are never deleted, so an
    older checkpoint (or a full replay) folds to the same state."""
    for v in reversed(_list_checkpoints(log_dir)):
        if upto is not None and v > upto:
            continue
        try:
            with open(os.path.join(log_dir,
                                   f"{v:08d}.checkpoint.json")) as fh:
                return v, json.load(fh)
        except ValueError:
            continue
    return -1, {}


def _read_decision(path: str) -> str | None:
    """Status of a transaction decision file — ``"committed"``,
    ``"aborted"``, or None while undecided. Decisions are immutable
    once created (atomic-create settles races), so a non-None result
    can be cached forever."""
    try:
        with open(path) as fh:
            return json.load(fh)["status"]
    except FileNotFoundError:
        return None


def _decide(path: str, status: str, extra: dict | None = None) -> str:
    """Atomically create the decision file with ``status``; if another
    actor already decided, return THEIR status (first create wins —
    this single put-if-absent is the 2PC commit point)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if _put_if_absent(path, json.dumps(
            {"status": status, "ts": time.time(), **(extra or {})})):
        return status
    return _read_decision(path)


class TxTable:
    """One transactional table rooted at ``root`` (see module docstring)."""

    def __init__(self, spark: SparkSession, root: str,
                 checkpoint_interval: int = 10,
                 txn_grace_s: float = 300.0):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "_txlog")
        self.data_dir = os.path.join(root, "files")
        self.checkpoint_interval = checkpoint_interval
        #: how long an undecided cross-table pending blocks writers
        #: before presumed-abort; cover the slowest plausible txn
        self.txn_grace_s = txn_grace_s
        # set by CatalogTxn.table(): commits stage as pending under this
        # {"txn": id, "decision": path} ref, and replay applies own
        # undecided pendings (read-your-writes)
        self._txn_ref: dict | None = None
        #: one-shot deterministic race-injection point: a callable fired
        #: (and cleared) immediately before the next commit attempt —
        #: lets tests and demo queries interleave a concurrent writer at
        #: exactly the lost-update window (the same trick Delta's own
        #: concurrency suite uses)
        self._pre_commit_hook = None
        self._self_txn: str | None = None
        self._last_commit_version: int | None = None
        self._decision_cache: dict[str, str] = {}
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------ log I/O

    def versions(self) -> list[int]:
        return _list_commits(self.log_dir)

    def _checkpoint_versions(self) -> list[int]:
        return _list_checkpoints(self.log_dir)

    def _read_commit(self, v: int) -> list[dict]:
        with open(os.path.join(self.log_dir, f"{v:08d}.json")) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _decision(self, path: str) -> str | None:
        st = self._decision_cache.get(path)
        if st is None:
            st = _read_decision(path)
            if st is not None:                   # immutable once decided
                self._decision_cache[path] = st
        return st

    def _commit_actions(self, v: int, mode: str = "strict") -> list[dict]:
        """Actions of commit ``v`` with cross-table PENDING resolution:
        a pending commit contributes its actions iff its transaction
        decided ``committed`` (or is this handle's own — read-your-
        writes). Undecided: ``mode="read"`` (latest-version readers)
        treats it as not yet arrived; ``mode="strict"`` (writers,
        explicit-version readers, checkpoints) raises
        :class:`TxnInDoubtError` inside the grace window and forces
        presumed-abort after it — so nothing ever builds on, or
        time-travels through, an undecided commit."""
        acts = self._read_commit(v)
        if not acts or "pending" not in acts[0]:
            return acts
        p = acts[0]["pending"]
        if self._self_txn is not None and p["txn"] == self._self_txn:
            return acts[1:]
        status = self._decision(p["decision"])
        if status is None:
            if mode == "read":
                return []
            if time.time() - p["ts"] < self.txn_grace_s:
                raise TxnInDoubtError(
                    f"version {v} of {self.root} is staged by undecided "
                    f"cross-table txn {p['txn']}; retry after it decides "
                    f"(grace {self.txn_grace_s}s)")
            status = _decide(p["decision"], "aborted")
        return acts[1:] if status == "committed" else []

    def _replay(self, upto: int | None = None, mode: str = "strict"):
        """``(meta, {path: add-action}, {app: batch}, copied)`` at a
        version in ONE pass: the newest usable checkpoint at-or-before
        it plus the commits after it (O(recent-commits), not
        O(history))."""
        start, snap = _newest_checkpoint(self.log_dir, upto)
        meta = snap.get("meta")
        live = {a["path"]: a for a in snap.get("live", [])}
        txns: dict[str, int] = dict(snap.get("txns", {}))
        copied: set[str] = set(snap.get("copied", []))
        for v in self.versions():
            if v <= start or (upto is not None and v > upto):
                continue
            for a in self._commit_actions(v, mode):
                if "meta" in a:
                    meta = a["meta"]
                elif "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                elif "dv" in a:
                    # DELETION VECTOR attach: key-delete file scoped to
                    # one live data file; dies with the file's remove
                    # (a rewrite materializes the deletes)
                    tgt = live.get(a["dv"]["path"])
                    if tgt is not None:
                        tgt.setdefault("_dvs", []).append(a["dv"]["keys"])
                elif "txn" in a:
                    app, bt = a["txn"]["app"], a["txn"]["batch"]
                    txns[app] = max(txns.get(app, -1), bt)
                elif a.get("op") == "copy_into":
                    copied.update(a["files"])
        return meta, live, txns, copied

    def _state(self, upto: int | None = None, mode: str = "strict"):
        """(meta, {path: add-action}) at a version (see :meth:`_replay`);
        fails loudly on a table needing reader features this build
        lacks."""
        meta, live, _, _ = self._replay(upto, mode)
        self._fence(meta)
        return meta, live

    @staticmethod
    def _fence(meta: dict | None) -> None:
        """Raise :class:`UnsupportedTableFeatureError` when ``meta``
        needs reader features this build lacks."""
        unknown = set((meta or {}).get("reader_features") or ()) \
            - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(unknown)

    def _txns(self, upto: int | None = None, mode: str = "strict") -> dict:
        """{app: highest committed batch id} at a version — the
        exactly-once bookkeeping for streaming sinks."""
        return self._replay(upto, mode)[2]

    def last_txn(self, app: str, version: int | None = None) -> int:
        """Highest batch id committed under ``app`` (-1 if none).
        ``version`` pins the lookup to that commit — so a reader can
        derive the watermark and the matching state from ONE version
        (see :func:`operators.matview.refresh_agg_mv`)."""
        return self._txns(version).get(app, -1)

    def _maybe_checkpoint(self, v: int) -> None:
        """Compact the log: materialize the full live state beside commit
        ``v`` every ``checkpoint_interval`` commits. Deterministic content
        per version, so a concurrent double-write is harmless."""
        if v == 0 or v % self.checkpoint_interval != 0:
            return
        if self._txn_ref is not None:
            return      # a txn handle's view includes its own UNDECIDED
            #             staged writes — never checkpoint those; later
            #             writers checkpoint the post-decision state
        try:
            meta, live, txns, copied = self._replay(v)
        except TxnInDoubtError:
            return      # undecided pending ≤ v: checkpoints only ever
            #             capture decided prefixes — defer to a later one
        _put_if_absent(
            os.path.join(self.log_dir, f"{v:08d}.checkpoint.json"),
            json.dumps({"version": v, "meta": meta,
                        "live": list(live.values()), "txns": txns,
                        "copied": sorted(copied)}))

    def _commit(self, actions: list[dict], expected_version: int) -> bool:
        """Publish ``actions`` as ``expected_version``; False if another
        writer won the race (caller re-reads and retries). Under a
        :class:`CatalogTxn` handle the commit stages as PENDING: the
        version slot is taken normally (so concurrent writers still
        serialize on it), but a leading marker defers visibility to the
        transaction's decision file."""
        if self._pre_commit_hook is not None:
            hook, self._pre_commit_hook = self._pre_commit_hook, None
            hook()
        if self._txn_ref is not None:
            actions = [{"pending": {**self._txn_ref, "ts": time.time()}},
                       *actions]
        # IN-COMMIT TIMESTAMP (Delta's ICT feature): the op action's
        # stamp is clamped to strictly exceed the PREDECESSOR commit's —
        # each committer reads version N-1's stamp before writing N, so
        # commit timestamps are monotone across ALL writers even under
        # clock skew, and TIMESTAMP AS OF resolution (version_at) is a
        # well-ordered cut instead of Delta's best-effort writer-clock
        # ordering
        now = time.time()
        if expected_version > 0:
            try:
                prev = next(
                    (a["ts"] for a in
                     self._read_commit(expected_version - 1)
                     if "op" in a and "ts" in a), None)
                if prev is not None and now <= prev:
                    now = prev + 1e-6
            except FileNotFoundError:
                pass                      # vacuumed predecessor: keep now
        actions = [{**a, "ts": now}
                   if "op" in a and "ts" not in a else a
                   for a in actions]
        if not _put_if_absent(
                os.path.join(self.log_dir, f"{expected_version:08d}.json"),
                "".join(json.dumps(a) + "\n" for a in actions)):
            return False
        self._last_commit_version = expected_version
        return True

    def _transact(self, attempt, txn: tuple[str, int] | None = None):
        """THE optimistic-commit loop of every read-modify-write. Each
        attempt takes the newest version as its BASE, folds state at it
        in one strict replay, and calls ``attempt(meta, live, base)`` —
        so everything a write derives from the table (schema and
        constraint checks, the key pruner, the layout) is computed at
        the base it commits on. ``attempt`` returns ``(actions,
        result)``, or ``(actions, result, prune)`` for key-set DML;
        ``actions=None`` finishes with ``result`` and no commit.

        The actions, plus the ``txn`` marker, publish at exactly
        ``base + 1``, so a commit that lands during the attempt's file
        writes fails it instead of being silently built over. On a lost
        race, key-set DML first tries :meth:`_retry_if_disjoint` (the
        result then carries ``rerun_avoided``); otherwise the attempt
        re-runs at the new head, and the files it wrote stay
        unreferenced for ``vacuum_uncommitted``.

        ``txn=(app, batch)`` makes the write idempotent: when the base
        already records ``batch`` or a later one for ``app``, the write
        is skipped and returns the ``skipped_replay`` result."""
        while True:
            base = max(self.versions(), default=-1)
            meta, live, txns, _ = self._replay(base)
            if meta is None:
                raise FileNotFoundError(f"no table at {self.root}")
            self._fence(meta)
            if txn is not None and txns.get(txn[0], -1) >= txn[1]:
                return {"files_scanned": 0, "files_rewritten": 0,
                        "files_untouched": 0, "skipped_replay": True}
            actions, result, *prune = attempt(meta, live, base)
            if actions is None:
                return result
            if txn is not None:
                actions = [*actions,
                           {"txn": {"app": txn[0], "batch": txn[1]}}]
            if self._commit(actions, base + 1):
                self._maybe_checkpoint(base + 1)
                return result
            if prune:
                v = self._retry_if_disjoint(
                    base, actions, prune[0],
                    txn_app=txn[0] if txn is not None else None)
                if v is not None:
                    self._maybe_checkpoint(v)
                    return {**result, "rerun_avoided": True}

    # ----------------------------------------------------------- data I/O

    def _write_files(self, df: DataFrame, meta: dict,
                     n_files: int | None = None,
                     order_expr=None) -> list[dict]:
        """Materialize ``df`` as immutable data files of the table
        described by ``meta``, one add action per non-empty file. The
        key, ``stats_cols``, ``partition_by`` and ``bloom_cols`` all come
        from ``meta``, so a write always follows the layout of the meta
        it commits with. Range-partitioned on the key so file key ranges
        are tight and disjoint — what makes merge-time file pruning
        effective. ``n_files`` pins the file count (an explicit
        ``repartitionByRange`` count AQE won't coalesce); default lets
        AQE size the files. ``order_expr`` clusters on that expression
        instead of the key (:meth:`optimize_zorder`).

        Each declared ``stats_cols`` column's per-file [min, max] is
        recorded too — the BI-read data-skipping columns (date values
        serialize as ISO strings, whose lexical order matches their
        temporal order).

        A partitioned table's files are PARTITION-PURE: the write goes
        through Spark's ``partitionBy`` (one directory per value tuple,
        fully distributed, one job), files are flattened into the data
        dir, and each add action records the file's partition value(s)
        as ``pval`` (scalar for one column, list for composite) — the
        Hive/Delta partition-pruning contract, enforced for every write
        path, so partition reads can skip files on the log alone.

        Each ``bloom_cols`` column gets a per-file BLOOM FILTER — Delta's
        bloom filter index: point lookups on a high-cardinality column
        that is neither the key nor clustered skip every file whose
        bloom rejects the value (:meth:`read_col_in`). The key's and
        every column's k probe positions per row explode into ONE tagged
        job that folds 64-bit words per file — the driver only ever sees
        bloom-sized state, never row-count-sized.

        Per-file stats come from the new files' parquet footers with no
        job (:func:`_footer_stats`); a write the footers cannot answer
        exactly takes one aggregate job instead. So a write runs one
        metadata job after the data write, two on the fallback. A
        zero-row file (Spark writes one for an empty frame) gets no add
        action and is unlinked, so an empty write leaves no file."""
        key_col = meta["key_col"]
        stats_cols = meta.get("stats_cols")
        bloom_cols = meta.get("bloom_cols")
        partition_by = meta.get("partition_by")
        mp = meta.get("column_mapping")
        if mp:
            # COLUMN MAPPING: data files store PHYSICAL names (stable
            # across renames), the declared schema speaks logical names.
            # Evaluate the z-order expression (logical refs) BEFORE the
            # rename, then write everything under physical names — so
            # cstats/bloom/pval land keyed by names no rename ever moves.
            if order_expr is not None:
                df = df.withColumn("__ordsrc", order_expr)
                order_expr = F.col("__ordsrc")
            df = df.select([F.col(c).alias(mp.get(c, c))
                            for c in df.columns])
            key_col = mp.get(key_col, key_col)
            if stats_cols:
                stats_cols = [mp.get(c, c) for c in stats_cols]
            if bloom_cols:
                bloom_cols = [mp.get(c, c) for c in bloom_cols]
            if partition_by is not None:
                partition_by = mp.get(partition_by, partition_by) \
                    if isinstance(partition_by, str) \
                    else [mp.get(c, c) for c in partition_by]
        pcols = ([partition_by] if isinstance(partition_by, str)
                 else list(partition_by)) if partition_by else None
        if order_expr is not None:
            # Z-ORDER rewrite path (:meth:`optimize_zorder`): cluster
            # files on the interleaved-bit value instead of the key, so
            # every declared stats column gets tight per-file ranges
            tmp = df.withColumn("__ord", order_expr)
            ranged = (tmp.repartitionByRange(n_files, F.col("__ord"))
                      if n_files else tmp.repartitionByRange(F.col("__ord")))
            ranged = ranged.sortWithinPartitions("__ord") \
                           .drop("__ord", "__ordsrc")
        elif pcols is not None:
            # cluster on (partitions..., key): most range tasks then hold
            # a single partition tuple, so the partitionBy split below
            # seldom fragments a task's output into extra files
            rcols = [*(F.col(c) for c in pcols), F.col(key_col)]
            ranged = (df.repartitionByRange(n_files, *rcols)
                      if n_files else df.repartitionByRange(*rcols))
            ranged = ranged.sortWithinPartitions(*pcols, key_col)
        else:
            ranged = (df.repartitionByRange(n_files, F.col(key_col))
                      if n_files else df.repartitionByRange(F.col(key_col)))
            # sort within each file: parquet row-group min/max stats on
            # the key become tight and disjoint, so point/range reads
            # skip ROW GROUPS inside the files the log-level stats
            # couldn't prune — the second pruning tier, free at write
            ranged = ranged.sortWithinPartitions(key_col)
        if pcols is not None:
            # ``__pvN`` are consumed by the directory layout, so the real
            # partition columns stay IN the file (snapshot reads need them)
            out = ranged
            for i, c in enumerate(pcols):
                out = out.withColumn(f"__pv{i}", F.col(c))
            paths = self._publish_staged(
                out.write.mode("overwrite")
                .partitionBy(*[f"__pv{i}" for i in range(len(pcols))])
                .parquet)
        else:
            paths = self._publish_staged(
                ranged.write.mode("overwrite").parquet)
        if not paths:
            return []
        # per-file rows, key min/max/null count, declared-column stats
        # and partition-column purity: from the written files' parquet
        # footers on the driver, no Spark job. When a footer cannot
        # answer exactly (see :func:`_footer_stats`) the whole write
        # takes ONE aggregate grouped on the file name instead; the two
        # give the same values. A zero-row file (an empty write) gets
        # no stats row, hence no add action, either way.
        write_schema = ranged.schema
        full_paths = [os.path.join(self.data_dir, p) for p in paths]
        types = {f.name: f.dataType.simpleString()
                 for f in write_schema.fields}
        groups = (("k", [key_col]), ("c", stats_cols or []),
                  ("pv", pcols or []))
        footers = [_footer_stats(fp, {c: types[c] for _, cs in groups
                                      for c in cs})
                   for fp in full_paths]
        if all(f is not None for f in footers):
            stats = []
            for p, (n, fs) in zip(paths, footers):
                if not n:
                    continue
                r = {"__f": p, "rows": n}
                for g, cs in groups:
                    for i, c in enumerate(cs):
                        r[f"__{g}min{i}"], r[f"__{g}max{i}"], \
                            r[f"__{g}null{i}"] = fs[c]
                stats.append(r)
        else:
            stats = (self.spark.read.schema(write_schema)
                     .parquet(*full_paths)
                     .groupBy(F.element_at(
                         F.split(F.input_file_name(), "/"), -1)
                         .alias("__f"))
                     .agg(F.count(F.lit(1)).alias("rows"),
                          *[agg for g, cs in groups
                            for i, c in enumerate(cs)
                            for agg in _stats_aggs(c, types[c], g, i)])
                     ).collect()
        by_name = {r["__f"]: r for r in stats}
        for p in paths:
            if p not in by_name:               # zero-row file: no add
                os.unlink(os.path.join(self.data_dir, p))
        paths = [p for p in paths if p in by_name]
        full_paths = [os.path.join(self.data_dir, p) for p in paths]
        if any(r["__knull0"] for r in stats):
            # a NULL key writes kmin/kmax as JSON null and poisons every
            # later prune comparison — fail the WRITE, not every read
            for p in paths:
                os.unlink(os.path.join(self.data_dir, p))
            raise ValueError(
                f"NULL values in merge key '{key_col}' "
                f"({sum(r['__knull0'] for r in stats)} rows) — the tx "
                f"table requires non-null keys")
        if pcols is not None:
            for i, c in enumerate(pcols):
                if any(r[f"__pvnull{i}"] for r in stats):
                    # a NULL pval cannot serialize as a prunable value
                    for p in paths:
                        os.unlink(os.path.join(self.data_dir, p))
                    raise ValueError(
                        f"NULL values in partition column '{c}' "
                        f"({sum(r[f'__pvnull{i}'] for r in stats)} rows)"
                        f" — partitioned tx tables require non-null "
                        f"partition values")
            impure = [r["__f"] for r in stats
                      if any(r[f"__pvmin{i}"] != r[f"__pvmax{i}"]
                             for i in range(len(pcols)))]
            if impure:
                # must survive ``python -O`` (an assert would strip):
                # committing an impure file records a wrong pval and
                # read_partitions silently drops its other rows forever
                for p in paths:
                    os.unlink(os.path.join(self.data_dir, p))
                raise ValueError(
                    f"partitionBy produced partition-impure files "
                    f"(mixed {pcols} values within one file): {impure}")
        if not paths:
            return []                     # only zero-row files written

        # ALL blooms of the write in ONE job: each row explodes into
        # (tag, position) probes — tag 0 the key at ``_BLOOM_BITS``, tag
        # j the j-th ``bloom_cols`` column at the table's
        # ``bloom_bits`` — folded as ``bit_or`` masks per (file, tag,
        # 64-bit word), so the shuffle is ≤ one row per set word and the
        # expression tree stays tiny (a 64-aggregate word fold inside
        # the stats agg cost ~1.1 s of Catalyst analysis per commit).
        # Every row folds, NULLs included: xxhash64(NULL, i) = i.
        bbits = int(meta.get("bloom_bits") or _COL_BLOOM_BITS)
        specs = [(key_col, _BLOOM_BITS),
                 *((c, bbits) for c in bloom_cols or [])]
        probes = F.array(*[
            F.struct(F.lit(t).alias("__t"),
                     _bloom_probe(c, i, bits).alias("__pos"))
            for t, (c, bits) in enumerate(specs) for i in range(_BLOOM_K)])
        words = (self.spark.read.schema(write_schema).parquet(*full_paths)
                 .select(F.element_at(F.split(F.input_file_name(), "/"), -1)
                          .alias("__f"),
                         F.inline(probes))
                 .groupBy("__f", "__t",
                          F.expr("CAST(__pos DIV 64 AS INT)").alias("__w"))
                 .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                             "CAST(__pos % 64 AS INT)))").alias("__m"))
                 ).collect()
        blooms: dict[tuple[str, int], int] = {}
        for r in words:
            fk = (r["__f"], r["__t"])
            blooms[fk] = (blooms.get(fk, 0)
                          | ((int(r["__m"]) & 0xFFFFFFFFFFFFFFFF)
                             << (64 * int(r["__w"]))))

        def add_action(p: str) -> dict:
            r = by_name[p]
            # blooms[...] on purpose (not .get): every row folds into
            # every tag, so a file present in the stats but absent from
            # the bloom job would get bloom 0, which rejects every
            # probe — bloom-pruned reads would silently skip the file's
            # rows forever. A bloom/stats mismatch must fail the write.
            a = {"path": p, "rows": r["rows"], "kmin": r["__kmin0"],
                 "kmax": r["__kmax0"], "bloom": f"{blooms[(p, 0)]:x}"}
            if bloom_cols:
                a["cblooms"] = {c: f"{blooms[(p, j)]:x}"
                                for j, c in enumerate(bloom_cols, 1)}
            if stats_cols:
                a["cstats"] = {c: [r[f"__cmin{i}"], r[f"__cmax{i}"]]
                               for i, c in enumerate(stats_cols)}
                a["cnulls"] = {c: r[f"__cnull{i}"]
                               for i, c in enumerate(stats_cols)}
            if pcols is not None:
                # purity asserted above; scalar for one column (the
                # pre-multi-col on-disk form), list for composite
                vals = [r[f"__pvmin{i}"] for i in range(len(pcols))]
                a["pval"] = vals[0] if len(pcols) == 1 else vals
                a["pby"] = list(pcols)
            return a

        return [{"add": add_action(p)} for p in paths]

    def _write_cdf(self, changes: DataFrame,
                   meta: dict | None = None) -> list[dict]:
        """Materialize CHANGE-FEED rows (table columns +
        ``_change_type``) for one commit as ``cdf-*.parquet`` files —
        written partition-parallel alongside the data files, referenced
        by ``cdf`` actions in the same commit, and never part of any
        live snapshot. Like the data files they are invisible until the
        commit lands (a lost race orphans them for
        ``vacuum_uncommitted``). Under column mapping the change files
        store PHYSICAL names like the data files, so one feed read
        unions change files from either side of a rename."""
        mp = (meta or {}).get("column_mapping")
        if mp:
            changes = changes.select(
                [F.col(c).alias(mp.get(c, c)) for c in changes.columns])
        return [{"cdf": {"path": p}} for p in self._publish_staged(
            changes.write.mode("overwrite").parquet, "cdf-")]

    def _publish_staged(self, write, prefix: str = "") -> list[str]:
        """THE staged publish of every file a write makes: ``write(dir)``
        fills a private ``.stage-<uuid>`` directory under the data dir
        (flat, or one sub-directory per partition tuple), then each
        parquet part is renamed into the data dir as
        ``<prefix><uuid>.parquet`` and the staging directory removed.
        Returns the published names in staging order. The files are
        invisible until a commit references them."""
        staging = os.path.join(self.data_dir, f".stage-{uuid.uuid4().hex}")
        write(staging)
        names = []
        for dirpath, _, parts in sorted(os.walk(staging)):
            for part in sorted(parts):
                if part.endswith(".parquet"):
                    final = f"{prefix}{uuid.uuid4().hex}.parquet"
                    os.rename(os.path.join(dirpath, part),
                              os.path.join(self.data_dir, final))
                    names.append(final)
        shutil.rmtree(staging, ignore_errors=True)
        return names

    # ------------------------------------------------------------- reads

    def _read_files(self, meta: dict, actions,
                    keep_file_col: str | None = None) -> DataFrame:
        """Read data files under the version's DECLARED schema: files
        written before a schema evolution lack the newer columns, and the
        explicit schema makes the parquet reader surface them as NULL
        (by-name matching) instead of failing or silently varying by
        file order.

        ``actions`` may be add-action dicts or bare path strings. When a
        dict carries ``_dvs`` (deletion vectors attached by
        :meth:`delete_keys_dv`), the scan LEFT-ANTI-joins the per-file
        (file, key) delete sets — merge-on-read: the deleted rows vanish
        from every read without any data file having been rewritten. The
        DV table is deleted-key-sized and broadcasts; files without DVs
        pass through the same anti-join untouched. ``keep_file_col``
        names an extra output column holding each row's file basename
        (scan metadata — used by the DV writer itself)."""
        acts = [{"path": a} if isinstance(a, str) else a for a in actions]
        schema = StructType.fromJson(json.loads(meta["schema"]))
        if not acts:
            out_schema = StructType(list(schema.fields))
            if keep_file_col:
                out_schema = out_schema.add(keep_file_col, "string")
            return self.spark.createDataFrame([], out_schema)
        # COLUMN MAPPING: files store physical names; scan under the
        # physical schema (dropped columns simply aren't selected; a
        # re-added logical name maps to a FRESH physical one, so old
        # files surface it as NULL — never resurrect dropped data),
        # then alias back to the version's logical names.
        mp = meta.get("column_mapping") or {}
        read_schema = StructType(
            [type(f)(mp.get(f.name, f.name), f.dataType, f.nullable)
             for f in schema.fields]) if mp else schema
        df = self.spark.read.schema(read_schema).parquet(
            *[os.path.join(self.data_dir, a["path"]) for a in acts])
        dv_files = sorted({dv for a in acts for dv in a.get("_dvs", [])})
        if dv_files or keep_file_col:
            fcol = keep_file_col or "__dv_file"
            df = df.withColumn(
                fcol, F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1))
        if mp:
            keep = [F.col(mp.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields]
            if dv_files or keep_file_col:
                keep.append(F.col(fcol))
            df = df.select(*keep)
        if dv_files:
            key = meta["key_col"]
            dv = self.spark.read.parquet(
                *[os.path.join(self.data_dir, p) for p in dv_files]) \
                .select(F.col("__file").alias("__dvf"),
                        F.col("__key").alias("__dvk")).distinct()
            df = df.join(
                F.broadcast(dv),
                (F.col(fcol) == F.col("__dvf"))
                & (F.col(key) == F.col("__dvk")),
                "left_anti")
            if not keep_file_col:
                df = df.drop(fcol)
        return df

    def _read_state(self, version: int | None):
        """(meta, {path: add-action}) for a reader at ``version``.
        Latest reads treat an undecided cross-table pending as not yet
        arrived ("read"); explicit-version reads must stay stable
        forever, so they force-resolve it first ("strict"). Raises
        FileNotFoundError when no table exists at the root."""
        meta, live = self._state(version,
                                 "read" if version is None else "strict")
        if meta is None:
            raise FileNotFoundError(f"no table at {self.root}")
        return meta, live

    def snapshot(self, version: int | None = None) -> DataFrame:
        meta, live = self._read_state(version)
        return self._read_files(meta, live.values())

    def version_at(self, ts: float) -> int:
        """The newest version whose commit wall-clock stamp is at or
        before ``ts`` (Delta's ``TIMESTAMP AS OF`` resolution). Commits
        from logs predating the in-action stamp fall back to the commit
        FILE's mtime — exactly how Delta resolves TIMESTAMP AS OF (log
        file modification time) — so a legacy commit written long after
        ``ts`` never resolves as eligible (treating it as time 0 would
        let ``snapshot_at(old_ts)`` return data committed later).
        Raises if the table's first commit is later than ``ts``."""
        best = None
        for v in self.versions():
            acts = self._read_commit(v)
            stamp = next((a["ts"] for a in acts
                          if "op" in a and "ts" in a), None)
            if stamp is None:
                stamp = os.path.getmtime(
                    os.path.join(self.log_dir, f"{v:08d}.json"))
            if stamp <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {ts} in {self.root}")
        return best

    def snapshot_at(self, ts: float) -> DataFrame:
        """TIMESTAMP AS OF read: the snapshot at :meth:`version_at`."""
        return self.snapshot(self.version_at(ts))

    def read_keys(self, lo=None, hi=None,
                  version: int | None = None) -> DataFrame:
        """Key-band shorthand of :meth:`read_where`
        (``key_lo=lo, key_hi=hi``): scan only the files whose
        [kmin, kmax] stats intersect [lo, hi] (either bound optional),
        with the exact predicate as a residual filter. A point lookup
        on a range-partitioned dimension touches O(1) files regardless
        of table size."""
        return self.read_where(key_lo=lo, key_hi=hi, version=version)

    def read_stats_range(self, lo=None, hi=None,
                         version: int | None = None,
                         col: str | None = None) -> DataFrame:
        """Stats-band shorthand of :meth:`read_where`
        (``stats={col: (lo, hi)}``) on a declared stats column
        (:meth:`create` ``stats_cols``; ``col`` defaults to the first
        declared) — a BI date-band query on a date-clustered table
        touches only the matching ingest batches' files. Bounds must be
        given in the stats' serialized form: the column's native type
        for int/string columns, a full ISO string (e.g.
        ``"1996-01-01 00:00:00"`` for timestamps) otherwise. Files
        written before the column was declared carry no stats and are
        conservatively scanned."""
        meta, live = self._read_state(version)
        declared = meta.get("stats_cols") or []
        if not declared:
            raise ValueError(f"table at {self.root} declares no stats_cols")
        if col is None:
            col = declared[0]
        if col not in declared:
            raise ValueError(
                f"column '{col}' carries no stats (declared: {declared})")
        return self._read_pruned(meta, live, stats={col: (lo, hi)})

    def read_partitions(self, values,
                        version: int | None = None) -> DataFrame:
        """Partition shorthand of :meth:`read_where`
        (``partitions=values``; requires ``create(...,
        partition_by=)``): scan only the files whose recorded partition
        value (``pval``) is in ``values`` — pruning on the log alone,
        the Hive/Delta partition contract. Files whose layout predates
        a partition evolution are conservatively scanned; the residual
        ``isin`` filter keeps the result exact."""
        return self.read_where(partitions=values, version=version)

    #: generation-expression shapes MONOTONE in their source column —
    #: the inference is only sound when src_a <= src_b implies
    #: g(src_a) <= g(src_b) (date_format with a PREFIX pattern keeps
    #: lexical == temporal; year/to_date/date_trunc are monotone;
    #: month()/day() alone are cyclic and must never match)
    _MONOTONE_GEN = (
        r"^date_format\(\s*{c}\s*,\s*'yyyy(-MM(-dd)?)?'\s*\)$",
        r"^year\(\s*{c}\s*\)$",
        r"^to_date\(\s*{c}\s*\)$",
        r"^cast\(\s*{c}\s+as\s+date\s*\)$",
        r"^date_trunc\(\s*'(year|month|week|day)'\s*,\s*{c}\s*\)$",
    )

    def read_generated_range(self, col: str, lo, hi,
                             version: int | None = None) -> DataFrame:
        """GENERATED-COLUMN PARTITION FILTER INFERENCE (Delta's
        optimization): a range predicate on the SOURCE column of a
        generated partition column prunes partitions the caller never
        named — ``WHERE ts BETWEEN lo AND hi`` on a table partitioned
        by ``month = date_format(ts, 'yyyy-MM')`` reads only the
        months [g(lo), g(hi)]. Sound only for generation expressions
        MONOTONE in the source (whitelisted shapes above; cyclic
        month()/day() never match). The bounds are evaluated through
        THE SAME engine expression the writers used (over a 2-row local
        relation, on the driver with no Spark job), so the inferred
        band can never disagree with the stored pvals; the exact
        predicate stays as a residual filter. At
        100 TB this turns every timestamp-band query into a
        partition-pruned read without the caller knowing the partition
        scheme exists. Pinned in tests/test_txlog_generated.py."""
        meta, live = self._read_state(version)
        pcols = _meta_parts(meta) or []
        gen = meta.get("generated") or {}
        target = None
        cpat = re.escape(col)
        for g in pcols:
            expr = (gen.get(g) or "").strip()
            if any(re.match(p.format(c=cpat), expr, re.IGNORECASE)
                   for p in self._MONOTONE_GEN):
                target = g
                break
        if target is None:
            raise ValueError(
                f"no partition column of {self.root} is generated "
                f"monotonically from '{col}' (generated: {gen}, "
                f"partition_by: {pcols})")
        schema = StructType.fromJson(json.loads(meta["schema"]))
        src_type = {f.name: f.dataType for f in schema.fields}[col]
        vals = [r["__g"] for r in
                self._values_frame(col, src_type, [lo, hi])
                .select(F.expr(gen[target]).alias("__g")).collect()]
        g_lo, g_hi = min(vals), max(vals)
        idx = pcols.index(target)

        def pv(a):
            v = a.get("pval")
            if v is None:
                return None                  # pre-partitioning file
            return v[idx] if isinstance(v, list) else v

        files = [a for a in live.values()
                 if pv(a) is None or g_lo <= pv(a) <= g_hi]
        df = self._read_files(meta, files)
        return df.where((F.col(col) >= F.lit(lo))
                        & (F.col(col) <= F.lit(hi)))

    def read_where(self, partitions=None, key_lo=None, key_hi=None,
                   stats: dict | None = None,
                   not_null: list[str] | None = None,
                   version: int | None = None) -> DataFrame:
        """COMPOSED pruned read — the single reader entry point that
        stacks every skipping tier the log carries, the way a Delta
        reader folds a WHERE clause into file skipping. A file is
        scanned only if it survives ALL applicable tiers:

        - ``partitions``: recorded ``pval`` in the set (log-only, the
          cheapest tier);
        - ``key_lo``/``key_hi``: [kmin, kmax] intersects the band;
        - ``stats``: {col: (lo, hi)} — every declared column's per-file
          [min, max] intersects its band (either bound may be None;
          files predating a column's stats scan conservatively);
        - ``not_null``: [col, ...] — the per-file NULL count (Delta's
          nullCount stats) shows the declared column is not all-null
          in the file: an ``IS NOT NULL`` read skips the ingest batches
          where a late-arriving column hadn't started populating.

        The exact predicates re-apply as residual filters, so the
        result equals the unpruned filter at any layout. At 100 TB this
        is the difference between "query the partition's day" and
        "scan the table": tiers compose multiplicatively."""
        meta, live = self._read_state(version)
        return self._read_pruned(meta, live, partitions=partitions,
                                 key_lo=key_lo, key_hi=key_hi,
                                 stats=stats, not_null=not_null)

    def _read_pruned(self, meta: dict, live: dict, **tiers) -> DataFrame:
        """The files of ``live`` surviving :meth:`_prune_live`'s tiers,
        read with the residual filter applied."""
        files, residual = self._prune_live(meta, live, **tiers)
        df = self._read_files(meta, files)
        return df if residual is None else df.where(residual)

    def _prune_live(self, meta: dict, live: dict, partitions=None,
                    key_lo=None, key_hi=None, stats: dict | None = None,
                    not_null: list[str] | None = None):
        """The composed file-skipping tiers of :meth:`read_where`,
        factored for every reader/writer that needs "which live files
        can hold rows matching these bounds" (read_where and its
        one-tier shorthands, the predicate UPDATE/DELETE's touched-file
        discovery). Returns
        ``(surviving add-actions, residual Column-or-None)`` — the
        residual re-applies the exact bounds so results equal the
        unpruned filter at any layout."""
        key = meta["key_col"]
        pcols = _meta_parts(meta)
        if partitions is not None and not pcols:
            raise ValueError(
                f"table at {self.root} is not partitioned — create it "
                f"with partition_by=")
        declared = meta.get("stats_cols") or []
        stats = stats or {}
        not_null = not_null or []
        unknown = [c for c in (*stats, *not_null) if c not in declared]
        if unknown:
            raise ValueError(
                f"columns {unknown} carry no stats (declared: {declared})")
        pvals = _norm_pvals(partitions, len(pcols)) \
            if partitions is not None else None

        mp = meta.get("column_mapping") or {}

        def survives(a: dict) -> bool:
            if pvals is not None and _layout_matches(a, meta) \
                    and _pval_tuple(a) not in pvals:
                return False
            if (key_hi is not None and a["kmin"] > key_hi) or \
                    (key_lo is not None and a["kmax"] < key_lo):
                return False
            for col, (lo, hi) in stats.items():
                b = _cbounds(a, meta, col)
                if b is None or b[0] is None:
                    continue                     # pre-declaration file
                if (hi is not None and b[0] > hi) or \
                        (lo is not None and b[1] < lo):
                    return False
            for col in not_null:
                nulls = (a.get("cnulls") or {}).get(mp.get(col, col))
                if nulls is not None and nulls == a["rows"]:
                    return False                 # every row NULL — skip
            return True

        files = [a for a in live.values() if survives(a)]
        conds = []
        if pvals is not None:
            conds.append(_pval_predicate(pcols, pvals))
        if key_lo is not None:
            conds.append(F.col(key) >= key_lo)
        if key_hi is not None:
            conds.append(F.col(key) <= key_hi)
        for col, (lo, hi) in stats.items():
            if lo is not None:
                conds.append(F.col(col) >= lo)
            if hi is not None:
                conds.append(F.col(col) <= hi)
        for col in not_null:
            conds.append(F.col(col).isNotNull())
        residual = None
        for c in conds:
            residual = c if residual is None else residual & c
        return files, residual

    def read_changes(self, since_version: int = 0,
                     upto: int | None = None) -> DataFrame:
        """CHANGE DATA FEED (Delta CDF): the row-level change stream of
        commits in ``[since_version, upto]`` — table columns plus
        ``_change_type`` (``insert`` / ``update_preimage`` /
        ``update_postimage`` / ``delete``) and ``_commit_version``.
        Requires ``create(..., change_feed=True)``.

        Inserts from create/append commits derive directly from those
        commits' immutable add files (no storage double-write on the
        append-heavy path); merge/delete commits read the ``cdf``
        change files captured at write time — O(changed rows), never a
        snapshot diff. Compaction/Z-order/evolve commits change no rows
        and contribute nothing. This is what lets a downstream consumer
        (aggregate maintenance, search-index refresh, replication)
        track a 100 TB table for the cost of its CHANGES rather than
        re-scanning snapshots.

        Consumption is SEALED-PREFIX: the feed stops just before the
        first still-undecided cross-table pending commit, so a consumer
        that advances its watermark past version v can never miss v's
        rows. Change files follow :meth:`vacuum`'s version retention —
        don't read changes past the vacuum horizon.

        RESTORE commits are row-tracked: :meth:`restore` materializes
        its own diff as change files at commit time, so the feed flows
        exactly across a restore (beyond Delta, where RESTORE breaks
        CDF consumers). Only an UNTRACKED restore — one written before
        row tracking, or one that crossed a schema change — raises
        :class:`ChangeFeedRestoredError`; consumers then resync from a
        snapshot (see :func:`operators.matview.refresh_agg_mv` for the
        recovery pattern). Untracked restores BEFORE ``since_version``
        are fine: a consumer whose watermark already passed the restore
        resynced then."""
        meta, _ = self._read_state(upto)
        if not meta.get("change_feed"):
            raise ValueError(
                f"table at {self.root} was created without "
                f"change_feed=True — no change files exist")
        schema = StructType.fromJson(json.loads(meta["schema"]))
        cols = [*schema.fieldNames(), "_change_type"]
        # change files store PHYSICAL names (column mapping) — read them
        # under the physical schema and alias to the upto-version's
        # logical names, exactly like the data-file reader
        mp = meta.get("column_mapping") or {}
        cdf_schema = StructType(
            [type(f)(mp.get(f.name, f.name), f.dataType, f.nullable)
             for f in schema.fields]).add("_change_type", "string")
        parts = []
        for v in self.versions():
            if v < since_version or (upto is not None and v > upto):
                continue
            try:
                acts = self._commit_actions(v, "strict")
            except TxnInDoubtError:
                break                      # sealed prefix: stop early
            ops = [a["op"] for a in acts if "op" in a]
            op = ops[0] if ops else None
            if (op == "restore" and not next(
                    a for a in acts if "op" in a).get("tracked")) \
                    or op == "replace_table":
                # untracked full-state change: no row-level diff was
                # captured at commit time — consumers must resync
                # (a restore across a schema change, a pre-row-tracking
                # restore, or a CREATE OR REPLACE full rewrite)
                raise ChangeFeedRestoredError(
                    f"change-feed range [{since_version}, "
                    f"{upto if upto is not None else 'latest'}] of "
                    f"{self.root} crosses the untracked {op} commit "
                    f"at version {v}; the feed does not row-track it — "
                    f"resync from a snapshot at version >= {v}",
                    restore_version=v)
            if op in ("create", "append", "copy_into"):
                paths = [a["add"]["path"] for a in acts if "add" in a]
                if not paths:
                    continue
                df = self._read_files(meta, paths) \
                    .withColumn("_change_type", F.lit("insert"))
            elif op in ("merge", "delete", "delete_dv", "replace_where",
                        "update", "restore"):
                paths = [os.path.join(self.data_dir, a["cdf"]["path"])
                         for a in acts if "cdf" in a]
                if not paths:
                    continue               # no-op merge/delete/restore
                df = self.spark.read.schema(cdf_schema).parquet(*paths)
                if mp:
                    df = df.select(
                        *[F.col(mp.get(f.name, f.name)).alias(f.name)
                          for f in schema.fields], "_change_type")
            else:
                continue                   # compact/zorder/evolve
            parts.append(df.select(*cols).withColumn(
                "_commit_version", F.lit(v).cast("long")))
        if not parts:
            empty = StructType(list(schema.fields)) \
                .add("_change_type", "string") \
                .add("_commit_version", "long")
            return self.spark.createDataFrame([], empty)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def history(self) -> list[dict]:
        out = []
        for v in self.versions():
            acts = self._read_commit(v)
            entry = {"version": v}
            if acts and "pending" in acts[0]:
                p = acts[0]["pending"]
                entry["txn"] = p["txn"]
                entry["txn_status"] = self._decision(p["decision"]) \
                    or "in-doubt"
                acts = acts[1:]
            ops = [a["op"] for a in acts if "op" in a]
            entry.update({"op": ops[0] if ops else "?",
                          "n_add": sum("add" in a for a in acts),
                          "n_remove": sum("remove" in a for a in acts)})
            out.append(entry)
        return out

    # ------------------------------------------------------------ writes

    def create(self, df: DataFrame, key_col: str,
               n_files: int | None = None,
               stats_cols: list[str] | None = None,
               change_feed: bool = False,
               partition_by=None,
               generated: dict[str, str] | None = None,
               identity_col: str | None = None,
               bloom_cols: list[str] | None = None,
               bloom_bits: int = _COL_BLOOM_BITS) -> None:
        """``stats_cols`` declares extra data-skipping COLUMNS beyond the
        merge key: every data file records each declared column's
        [min, max] in the log, and :meth:`read_stats_range` prunes on
        ANY of them — the read-side answer for BI filters (a date band,
        a region id) that are not the merge key, matching how
        Delta/Iceberg keep per-column min/max. Effective when ingest is
        naturally clustered on the column (e.g. daily appends); the
        stats are always correct, just not selective on unclustered
        data. Files without stats simply never prune on them.

        ``change_feed=True`` enables Delta-CDF-style row-level change
        capture: every MERGE/DELETE commit also writes ``cdf`` change
        files (``_write_cdf``) and :meth:`read_changes` serves the
        row-level change stream (appends/creates derive their inserts
        straight from the add files — no double-write for the
        append-heavy path).

        ``partition_by`` declares a Hive/Delta-style PARTITION column:
        every data file this table ever writes is partition-pure and its
        add action records the value (``pval``), so
        :meth:`read_partitions` prunes on the log alone and
        :meth:`replace_where` can atomically overwrite one partition.
        Fixed at create (like Delta) — every later write path preserves
        it. Same int/string constraint as the merge key (the value rides
        in the JSON log).

        ``generated`` declares GENERATED COLUMNS (Delta's ``GENERATED
        ALWAYS AS``): ``{col: spark_sql_expr}``. A write that omits the
        column gets it COMPUTED from the expression; a write that
        provides it is VALIDATED against the expression (any mismatch
        rejects the write pre-commit); a predicate UPDATE recomputes it
        after the SETs so it can never go stale. The canonical use is a
        generated PARTITION column (a month/day derived from a
        timestamp): writers never hand-maintain it, and partition
        pruning stays exact by construction. If the create ``df`` omits
        a generated column it is computed here too.

        ``bloom_cols`` declares per-file BLOOM FILTER INDEX columns
        (Delta's ``CREATE BLOOMFILTER INDEX``): every data file records
        a bloom bitmap over each declared column's values, and
        :meth:`read_col_in` point-lookups on those columns prune files
        the bloom rejects — the data-skipping answer for a
        high-cardinality column that is neither the merge key nor
        clustered (where min/max stats never prune: every file's range
        spans the whole domain). ~0.5 KB of log per file per column.
        Same integral-or-string constraint as the key (probes hash the
        native type), and like the key a bloom column cannot later
        widen (hashes would turn into silent false negatives).

        ``identity_col`` declares an IDENTITY column (Delta's
        ``GENERATED ALWAYS AS IDENTITY``): the engine assigns a fresh
        unique monotonically-increasing bigint to every row that
        create/append writes — the surrogate-key ingest pattern, with
        no driver-side sequencing: ids are ``high_water_mark +
        monotonically_increasing_id()`` (per-partition counters, fully
        distributed), the mark advances in the SAME commit as the data,
        and a lost optimistic race reassigns from the winner's mark.
        Like Delta, ids are unique and increasing but NOT dense — gaps
        are the price of distributed assignment. Providing the column
        on create/append is rejected (ALWAYS semantics); merges accept
        it as data, since an upsert's rows legitimately carry the ids
        the table already assigned them. The identity column may BE the
        merge key — the classic auto-keyed dimension. RESTORE rolls the
        mark back with the rest of the meta (post-restore assignments
        may then reuse ids that only ever existed in rolled-back
        versions)."""
        # validation raises ValueError (not assert — must survive
        # ``python -O``; a skipped check here commits wrong metadata
        # that poisons every later prune)
        if self.versions():
            raise ValueError(f"table already exists at {self.root}")
        for c, expr in (generated or {}).items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(expr))
        if identity_col is not None:
            if identity_col in df.columns:
                raise ValueError(
                    f"identity column '{identity_col}' is GENERATED "
                    f"ALWAYS — it must not be provided")
            if generated and identity_col in generated:
                raise ValueError("a column cannot be both generated "
                                 "and identity")
            df = df.withColumn(identity_col,
                               F.monotonically_increasing_id())
        cols = list(stats_cols or [])
        # stats ride in the JSON log and prune by <=/>= — integer and
        # string keys serialize and order identically in JSON and Spark;
        # float/decimal/date keys would need careful bound encoding
        if dict(df.dtypes)[key_col] not in (
                "tinyint", "smallint", "int", "bigint", "string"):
            raise ValueError(
                f"merge key must be integral or string, got "
                f"{dict(df.dtypes)[key_col]}")
        meta = {"key_col": key_col, "schema": df.schema.json(), "format": 2}
        if change_feed:
            meta["change_feed"] = True
        if generated:
            meta["generated"] = dict(generated)
        if identity_col is not None:
            meta["identity"] = {"col": identity_col, "next": 0}
        if cols:
            unknown = [c for c in cols if c not in df.columns]
            if unknown:
                raise ValueError(f"unknown stats_cols {unknown}")
            meta["stats_cols"] = cols
        if bloom_cols:
            unknown = [c for c in bloom_cols if c not in df.columns]
            if unknown:
                raise ValueError(f"unknown bloom_cols {unknown}")
            for c in bloom_cols:
                if dict(df.dtypes)[c] not in (
                        "tinyint", "smallint", "int", "bigint", "string"):
                    raise ValueError(
                        f"bloom column must be integral or string, got "
                        f"{dict(df.dtypes)[c]} for '{c}' (probes hash "
                        f"the native type)")
            meta["bloom_cols"] = list(bloom_cols)
            meta["bloom_bits"] = int(bloom_bits)   # frozen at create:
            # probe positions are modulo this size on BOTH sides
        if partition_by is not None:
            pcols = [partition_by] if isinstance(partition_by, str) \
                else list(partition_by)
            for c in pcols:
                if c not in df.columns:
                    raise ValueError(f"unknown partition column '{c}'")
                if dict(df.dtypes)[c] not in (
                        "tinyint", "smallint", "int", "bigint", "string"):
                    raise ValueError(
                        f"partition column must be integral or string, "
                        f"got {dict(df.dtypes)[c]}")
            meta["partition_by"] = pcols[0] if len(pcols) == 1 \
                else pcols
        self._validate_constraints(df, meta)     # provided generated cols
        adds = self._write_files(df, meta, n_files)
        if identity_col is not None:
            # the WRITTEN files are the single truth for the mark (the
            # assignment expression is per-materialization)
            meta["identity"]["next"] = self._identity_hwm(
                adds, identity_col, meta)
        if not self._commit([{"op": "create"}, {"meta": meta}, *adds], 0):
            raise RuntimeError(f"concurrent create at {self.root}")

    def _identity_hwm(self, adds: list[dict], col: str,
                      meta: dict) -> int:
        """max(identity) + 1 over freshly written add actions (which
        store PHYSICAL names under column mapping): the bigint max from
        the new files' parquet footers (:func:`_footer_stats`, no job),
        or one aggregate over the new files when a footer cannot
        answer."""
        paths = [os.path.join(self.data_dir, a["add"]["path"])
                 for a in adds]
        if not paths:
            return 0
        pcol = (meta.get("column_mapping") or {}).get(col, col)
        footers = [_footer_stats(p, {pcol: "bigint"}) for p in paths]
        if all(f is not None for f in footers):
            top = max((f[1][pcol][1] for f in footers
                       if f[1][pcol][1] is not None), default=None)
        else:
            top = self.spark.read.parquet(*paths) \
                      .agg(F.max(pcol)).first()[0]
        return int(top) + 1 if top is not None else 0

    def add_columns(self, cols: dict[str, str]) -> None:
        """EXPLICIT schema evolution: append new nullable columns to the
        declared schema in ONE metadata-only commit (``{"op": "evolve"}``
        — no data file moves, O(1) regardless of table size). Data files
        written before the evolution surface the new columns as NULL
        (every read goes through the version's declared schema), and
        time travel to a pre-evolution version still sees the OLD
        schema. Silent drift stays rejected — ``_check_schema`` enforces
        whatever the CURRENT declared schema is, so writers must adopt
        the new columns the moment the evolve commit lands. This is the
        load-bearing half of Delta-style schema evolution (additive,
        explicit); renames/drops/type-changes are intentionally out of
        scope."""
        from pyspark.sql.types import StructField
        if not cols:
            raise ValueError("no columns to add")

        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            dup = [c for c in cols if c in schema.fieldNames()]
            if dup:
                raise ValueError(f"columns already exist: {dup}")
            for name, dtype in cols.items():
                new = StructType.fromDDL(f"`{name}` {dtype}")
                schema = schema.add(StructField(name, new.fields[0].dataType,
                                                True))
            new_meta = dict(meta)
            new_meta["schema"] = schema.json()
            if "column_mapping" in meta:
                # mapping mode: fresh physical names (see _merged_schema)
                mp = dict(meta["column_mapping"])
                mp.update({c: f"c_{uuid.uuid4().hex[:12]}" for c in cols})
                new_meta["column_mapping"] = mp
            return [{"op": "evolve"}, {"meta": new_meta}], None

        self._transact(attempt)

    def widen_column(self, name: str, dtype: str) -> None:
        """Explicit TYPE WIDENING (Delta's ``ALTER TABLE ... CHANGE
        COLUMN ... TYPE``): widen a column's declared type in ONE
        metadata-only commit — no data rewrite; already-written files
        stay readable because the parquet reader upcasts natively
        (:func:`_widens` allows exactly those conversions: the int
        chain, float→double, same-scale decimal precision growth).
        Narrower writes after the widen upcast automatically
        (:meth:`_check_schema`); the implicit path is a
        ``merge_schema=True`` write whose source arrives wider. The
        merge key cannot widen (per-file key blooms hash the native
        type — a widened key would turn them into silent false
        negatives)."""
        new_t = StructType.fromDDL(f"`__w` {dtype}").fields[0].dataType

        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            if name not in schema.fieldNames():
                raise ValueError(f"no column '{name}' "
                                 f"(have {schema.fieldNames()})")
            cur_t = schema[name].dataType
            if not _widens(cur_t, new_t):
                raise ValueError(
                    f"{cur_t.simpleString()} -> {new_t.simpleString()} "
                    f"is not a reader-safe widening (allowed: the int "
                    f"chain, float->double, same-scale decimal "
                    f"precision growth)")
            if name == meta["key_col"]:
                raise ValueError(
                    f"cannot widen the merge key '{name}': per-file "
                    f"key blooms hash the native type; recreate the "
                    f"table instead")
            if name in (meta.get("bloom_cols") or []):
                raise ValueError(
                    f"cannot widen bloom-indexed column '{name}': "
                    f"per-file column blooms hash the native type; "
                    f"recreate the table instead")
            new_meta = dict(meta)
            new_meta["schema"] = StructType(
                [type(f)(f.name, new_t if f.name == name else f.dataType,
                         f.nullable)
                 for f in schema.fields]).json()
            new_meta = self._stamp_feature(new_meta, "type_widening")[0]
            return [{"op": "widen_column", "col": name, "to": dtype},
                    {"meta": new_meta}], None

        self._transact(attempt)

    @staticmethod
    def _expr_refs(exprs: dict | None, col: str) -> list[str]:
        """Keys of ``exprs`` whose SQL references ``col`` as an
        identifier (conservative word-boundary match — constraint and
        generated-column expressions store raw SQL, and rewriting
        identifiers inside arbitrary expressions is exactly the
        fragility Delta avoids by blocking the rename/drop instead)."""
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(col)}"
                         rf"(?![A-Za-z0-9_`])")
        return [n for n, expr in (exprs or {}).items()
                if pat.search(expr)]

    def _constraint_refs(self, meta: dict, col: str) -> list[str]:
        return self._expr_refs(meta.get("constraints"), col)

    def rename_column(self, old: str, new: str) -> None:
        """Delta COLUMN MAPPING rename: change a column's LOGICAL name
        in ONE metadata-only commit — no data file moves, O(1) at any
        table size. Data files keep the column under its original
        PHYSICAL name; the mapping recorded in the table meta routes
        every read/write between the two, so pre-rename files stay
        fully readable AND fully prunable (cstats/bloom/pval are keyed
        by physical names, which never move). Time travel to a
        pre-rename version sees the old name; RESTORE brings the old
        mapping back with the rest of the meta. The merge key, stats
        columns, and partition columns may all be renamed (their meta
        references update in the same commit); a column referenced by a
        CHECK constraint cannot (like Delta — the constraint stores raw
        SQL; drop the constraint first)."""
        if old == new:
            raise ValueError("rename to the same name is a no-op")

        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            if old not in schema.fieldNames():
                raise ValueError(f"no column '{old}' "
                                 f"(have {schema.fieldNames()})")
            if new in schema.fieldNames():
                raise ValueError(f"column '{new}' already exists")
            refs = self._constraint_refs(meta, old)
            if refs:
                raise ValueError(
                    f"column '{old}' is referenced by CHECK "
                    f"constraint(s) {refs} — drop them first")
            gen = dict(meta.get("generated") or {})
            gen_refs = self._expr_refs(gen, old)
            if gen_refs:
                raise ValueError(
                    f"column '{old}' is referenced by generated "
                    f"column(s) {gen_refs} — their expressions store "
                    f"raw SQL")
            if old in gen:               # renaming a generated TARGET
                gen[new] = gen.pop(old)
            mp = dict(meta.get("column_mapping") or {})
            phys = mp.pop(old, old)
            if phys != new:
                mp[new] = phys
            new_meta = dict(meta)
            new_meta["schema"] = StructType(
                [type(f)(new if f.name == old else f.name,
                         f.dataType, f.nullable)
                 for f in schema.fields]).json()
            # once any rename/drop happened the mapping key STAYS (even
            # empty): it flags that later-added columns need fresh
            # physical names
            new_meta["column_mapping"] = mp
            if meta["key_col"] == old:
                new_meta["key_col"] = new
            scols = meta.get("stats_cols")
            if scols and old in scols:
                new_meta["stats_cols"] = [new if c == old else c
                                          for c in scols]
            bcols = meta.get("bloom_cols")
            if bcols and old in bcols:
                new_meta["bloom_cols"] = [new if c == old else c
                                          for c in bcols]
            pb = meta.get("partition_by")
            if pb is not None:
                new_meta["partition_by"] = \
                    (new if pb == old else pb) if isinstance(pb, str) \
                    else [new if c == old else c for c in pb]
            if old in (meta.get("generated") or {}):
                new_meta["generated"] = gen
            ident = meta.get("identity")
            if ident and ident["col"] == old:
                new_meta["identity"] = dict(ident, col=new)
            new_meta = self._stamp_feature(new_meta, "column_mapping")[0]
            return [{"op": "rename_column", "col": old, "to": new},
                    {"meta": new_meta}], None

        self._transact(attempt)

    def drop_column(self, name: str) -> None:
        """Delta COLUMN MAPPING drop: remove a column from the declared
        schema in ONE metadata-only commit — no data rewrite; the
        physical column simply stops being selected (old versions still
        time-travel to it, RESTORE brings it back). Re-adding the same
        logical name later (``add_columns`` / ``merge_schema=True``)
        maps to a FRESH physical name, so the dropped data never
        resurrects — the hazard Delta's column-mapping field IDs exist
        to prevent. The merge key and partition columns cannot be
        dropped (they are the table's layout contract); a stats column
        can (it leaves the declared skipping set); a column referenced
        by a CHECK constraint cannot (drop the constraint first)."""
        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            if name not in schema.fieldNames():
                raise ValueError(f"no column '{name}' "
                                 f"(have {schema.fieldNames()})")
            if len(schema.fields) == 1:
                raise ValueError("cannot drop the table's only column")
            if meta["key_col"] == name:
                raise ValueError(f"cannot drop the merge key '{name}'")
            pcols = _meta_parts(meta) or []
            if name in pcols:
                raise ValueError(
                    f"cannot drop partition column '{name}'")
            refs = self._constraint_refs(meta, name)
            if refs:
                raise ValueError(
                    f"column '{name}' is referenced by CHECK "
                    f"constraint(s) {refs} — drop them first")
            gen = dict(meta.get("generated") or {})
            gen_refs = self._expr_refs(gen, name)
            if gen_refs:
                raise ValueError(
                    f"column '{name}' is referenced by generated "
                    f"column(s) {gen_refs} — drop those first")
            mp = dict(meta.get("column_mapping") or {})
            mp.pop(name, None)
            new_meta = dict(meta)
            new_meta["schema"] = StructType(
                [f for f in schema.fields if f.name != name]).json()
            new_meta["column_mapping"] = mp       # stays, possibly empty
            if name in gen:              # dropping a generated TARGET
                gen.pop(name)
                if gen:
                    new_meta["generated"] = gen
                else:
                    new_meta.pop("generated", None)
            ident = meta.get("identity")
            if ident and ident["col"] == name:
                new_meta.pop("identity", None)   # the feature drops too
            scols = meta.get("stats_cols")
            if scols and name in scols:
                scols = [c for c in scols if c != name]
                if scols:
                    new_meta["stats_cols"] = scols
                else:
                    new_meta.pop("stats_cols", None)
            bcols = meta.get("bloom_cols")
            if bcols and name in bcols:
                bcols = [c for c in bcols if c != name]
                if bcols:
                    new_meta["bloom_cols"] = bcols
                else:
                    new_meta.pop("bloom_cols", None)
            new_meta = self._stamp_feature(new_meta, "column_mapping")[0]
            return [{"op": "drop_column", "col": name},
                    {"meta": new_meta}], None

        self._transact(attempt)

    def _merged_schema(self, meta: dict, df: DataFrame):
        """Delta ``mergeSchema`` semantics for a write: columns of
        ``df`` beyond the declared schema extend it (nullable, in one
        atomic action alongside the data — never a separate evolve
        commit); declared columns missing from ``df`` fill as typed
        NULLs; a declared column arriving WIDER than its type WIDENS
        the declared type (``_widens`` — reader-safe upcasts only, so
        every already-written file stays readable with no rewrite:
        Delta's type widening). Returns ``(possibly-new meta, aligned
        df)`` — the meta object is the SAME dict when nothing evolved
        (callers test identity to decide whether to ship a meta
        action)."""
        schema = StructType.fromJson(json.loads(meta["schema"]))
        declared = set(schema.fieldNames())
        extra = [c for c in df.columns if c not in declared]
        widened = False
        fields = []
        for f in schema.fields:
            if f.name in df.columns and \
                    _widens(f.dataType, df.schema[f.name].dataType):
                if f.name == meta["key_col"]:
                    # the per-file key BLOOMS hash the key's NATIVE
                    # type (xxhash64(int) != xxhash64(bigint) for the
                    # same value): widening the key would turn every
                    # pre-widening bloom into false NEGATIVES — silent
                    # lost updates. Reject loudly instead.
                    raise ValueError(
                        f"cannot widen the merge key '{f.name}' "
                        f"({f.dataType.simpleString()} -> "
                        f"{df.schema[f.name].dataType.simpleString()}): "
                        f"per-file key blooms hash the native type; "
                        f"cast the source key instead")
                fields.append(type(f)(f.name, df.schema[f.name].dataType,
                                      f.nullable))
                widened = True
            else:
                fields.append(f)
        schema = StructType(fields)
        for c in extra:
            schema = schema.add(c, df.schema[c].dataType, True)
        for c, expr in (meta.get("generated") or {}).items():
            # generated columns COMPUTE when omitted — never NULL-fill
            if c not in df.columns and c in schema.fieldNames():
                df = df.withColumn(c, F.expr(expr)
                                   .cast(schema[c].dataType))
        for f in schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name,
                                   F.lit(None).cast(f.dataType))
        if not extra and not widened:
            return meta, df
        new_meta = dict(meta)
        new_meta["schema"] = schema.json()
        if "column_mapping" in meta and extra:
            # mapping mode (a rename/drop happened): new logical names
            # get FRESH physical names so a re-added name never
            # resurrects a dropped column's data from old files
            mp = dict(meta["column_mapping"])
            mp.update({c: f"c_{uuid.uuid4().hex[:12]}" for c in extra})
            new_meta["column_mapping"] = mp
        return new_meta, df

    def _check_schema(self, df: DataFrame, meta: dict,
                      constraints: bool = True) -> DataFrame:
        """Appends/merges must carry exactly the table's columns (any
        order); a silent drift would poison every later snapshot. Also
        enforces the table's CHECK constraints on the INCOMING rows
        (existing rows were validated when each constraint was added):
        one short-circuit job — any violating row rejects the write
        before a single file lands, like Delta's constraint enforcement.
        ``constraints=False`` defers that to the caller — used by
        :meth:`merge_when`, whose clauses may consume source rows
        without writing them (Delta validates only rows actually
        written).

        Types are enforced too: a NARROWER incoming column upcasts
        losslessly to the declared type (an int batch into a bigint
        column — :func:`_upcasts`); anything else is TYPE DRIFT and
        rejects the write — one double file silently landing in an
        int column would fail every later snapshot read. Use
        ``merge_schema=True`` on the write to WIDEN the declared type
        instead (:func:`_widens`, Delta's type widening)."""
        schema = StructType.fromJson(json.loads(meta["schema"]))
        # GENERATED columns: compute any the write omits (writers never
        # hand-maintain a derived column); provided ones are validated
        # against their expression in _validate_constraints
        for c, expr in (meta.get("generated") or {}).items():
            if c not in df.columns and c in schema.fieldNames():
                df = df.withColumn(
                    c, F.expr(expr).cast(schema[c].dataType))
        expected = schema.fieldNames()
        if sorted(df.columns) != sorted(expected):
            raise ValueError(
                f"schema mismatch: table has {sorted(expected)}, "
                f"write has {sorted(df.columns)}")
        out, drift = [], []
        for f in schema.fields:
            have = df.schema[f.name].dataType
            if have == f.dataType:
                out.append(F.col(f.name))
            elif _upcasts(have, f.dataType):
                out.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                drift.append(f"{f.name}: write has "
                             f"{have.simpleString()}, table declares "
                             f"{f.dataType.simpleString()}")
        if drift:
            raise ValueError(
                "type drift rejected (" + "; ".join(drift) + ") — "
                "lossless upcasts apply automatically; to WIDEN the "
                "declared type write with merge_schema=True")
        df = df.select(*out)
        if constraints:
            self._validate_constraints(df, meta)
        return df

    def _validate_constraints(self, df: DataFrame, meta: dict) -> None:
        """Reject the write if any row of ``df`` violates a declared
        CHECK constraint, or carries a GENERATED column value that
        disagrees with its expression.

        ALL checks run in ONE aggregation job (max-of-violation-flag
        per check). The per-check ``limit(1).count()`` it replaces was
        N jobs — and each of those, on CLEAN data (the common case),
        is a CollectLimit whose take-escalation scans every partition
        across several sub-jobs anyway; the single agg scans the batch
        once for any number of checks. Failure messages are unchanged
        (the first violated check in declaration order raises)."""
        checks: list[tuple[str, F.Column]] = []
        for name, expr in (meta.get("constraints") or {}).items():
            checks.append((
                f"CHECK constraint '{name}' ({expr}) violated by "
                f"incoming rows — write rejected",
                ~F.expr(expr).eqNullSafe(F.lit(True))))
        for col, expr in (meta.get("generated") or {}).items():
            if col not in df.columns:
                continue                 # computed by the caller
            want = F.expr(expr)
            try:
                want = want.cast(df.schema[col].dataType)
            except Exception:
                pass
            checks.append((
                f"generated column '{col}' must equal {expr!r} — "
                f"incoming rows disagree; omit the column to have "
                f"it computed",
                ~F.col(col).eqNullSafe(want)))
        if not checks:
            return
        flags = df.agg(*[
            F.max(F.when(bad, F.lit(1)).otherwise(F.lit(0)))
             .alias(f"__viol{i}")
            for i, (_, bad) in enumerate(checks)]).first()
        for i, (msg, _) in enumerate(checks):
            if flags[f"__viol{i}"]:
                raise ValueError(msg)

    def add_constraint(self, name: str, expr: str) -> None:
        """Delta-style CHECK constraint: validate that every CURRENT row
        satisfies ``expr`` (one scan), then record it in the table meta
        with ONE metadata commit — every later write is rejected
        pre-commit if any incoming row violates it. Constraint names are
        unique; expressions are Spark SQL over the table's columns."""
        def attempt(meta, live, base):
            cons = dict(meta.get("constraints") or {})
            if name in cons:
                raise ValueError(f"constraint '{name}' already exists")
            bad = self._read_files(meta, live.values()) \
                .where(~F.expr(expr).eqNullSafe(F.lit(True))) \
                .limit(1).count()
            if bad:
                raise ValueError(
                    f"CHECK constraint '{name}' ({expr}) violated by "
                    f"existing rows — not added")
            new_meta = dict(meta)
            cons[name] = expr
            new_meta["constraints"] = cons
            return [{"op": "add_constraint"}, {"meta": new_meta}], None

        self._transact(attempt)

    def _live_set_diff(self, meta: dict, live_from: dict,
                       live_to: dict) -> DataFrame | None:
        """Row-level diff between two live file sets, read under
        ``meta``: rows leaving → ``delete``, rows entering → ``insert``
        (``_change_type`` column). Files present in BOTH sets with
        identical deletion vectors cannot contribute and are never
        read — the diff costs O(files that differ), not O(table).
        Returns None when the sets are identical. Shared by the
        row-tracked RESTORE and :meth:`diff`."""
        def sig(a: dict):
            return tuple(sorted(a.get("_dvs", [])))
        common = {p for p, a in live_to.items()
                  if p in live_from and sig(a) == sig(live_from[p])}
        old_ch = [a for p, a in live_from.items() if p not in common]
        new_ch = [a for p, a in live_to.items() if p not in common]
        if not old_ch and not new_ch:
            return None
        old_df = self._read_files(meta, old_ch)
        new_df = self._read_files(meta, new_ch)
        return (old_df.exceptAll(new_df)
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(new_df.exceptAll(old_df)
                             .withColumn("_change_type",
                                         F.lit("insert"))))

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """SNAPSHOT DIFF between two versions — what changed, as rows:
        table columns + ``_change_type`` (``delete`` = live at
        ``v_from`` but not ``v_to``, ``insert`` = the reverse; an
        update appears as its delete/insert pair). Unlike
        :meth:`read_changes` this needs NO change feed and no
        per-commit replay: it diffs only the files that differ between
        the two live sets (O(changed files)), so auditing "what moved
        between Monday and Tuesday" on a 100 TB table costs the
        changed data, not the table. Both sides read under ``v_to``'s
        column set with each column at the WIDER of the two versions'
        declared types (reader-safe widenings make every live file of
        either version readable — including a file written wide before
        a RESTORE narrowed the declared type back; a column added in
        between surfaces as NULL on the old side)."""
        if v_to is None:
            v_to = self.versions()[-1]
        if v_from > v_to:
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        meta_f, live_f = self._state(v_from)
        meta_t, live_t = self._read_state(v_to)
        if meta_f is None:
            raise FileNotFoundError(f"no table at {self.root}")
        if (meta_f.get("column_mapping") or {}) != \
                (meta_t.get("column_mapping") or {}):
            raise ValueError(
                "diff across a column rename/drop is ambiguous — "
                "compare snapshots explicitly instead")
        sch_f = StructType.fromJson(json.loads(meta_f["schema"]))
        sch_t = StructType.fromJson(json.loads(meta_t["schema"]))
        fields = []
        for f in sch_t.fields:
            if f.name in sch_f.fieldNames():
                ft = sch_f[f.name].dataType
                if ft != f.dataType and _widens(f.dataType, ft):
                    # v_from declared wider (e.g. a widen the restore
                    # between the versions rolled back): its files
                    # need the wide read; v_to's files upcast safely
                    fields.append(type(f)(f.name, ft, f.nullable))
                    continue
            fields.append(f)
        meta_w = dict(meta_t)
        meta_w["schema"] = StructType(fields).json()
        out = self._live_set_diff(meta_w, live_f, live_t)
        if out is None:
            schema = StructType(fields).add("_change_type", "string")
            return self.spark.createDataFrame([], schema)
        return out

    def replace_table(self, df: DataFrame, key_col: str,
                      stats_cols: list[str] | None = None,
                      partition_by=None,
                      change_feed: bool | None = None) -> None:
        """Delta's ``CREATE OR REPLACE TABLE``: swap the table's entire
        contents AND declared metadata in ONE commit — the atomic
        full-refresh spelling (a dimension rebuilt from scratch nightly,
        a re-keyed layout) that a drop + create cannot give: readers see
        the old table until the commit lands, then the new one, never an
        empty gap — and every old version still time-travels. Declares
        a fresh schema/key/layout like :meth:`create`; ``change_feed``
        defaults to the table's current setting. The change feed does
        NOT row-track a replace (it is a declared full rewrite —
        consumers resync, the same contract as an untracked restore);
        the replace commit is marked untracked accordingly."""
        def attempt(meta_old, live_old, base):
            if dict(df.dtypes)[key_col] not in (
                    "tinyint", "smallint", "int", "bigint", "string"):
                raise ValueError(
                    f"merge key must be integral or string, got "
                    f"{dict(df.dtypes)[key_col]}")
            meta = {"key_col": key_col, "schema": df.schema.json(),
                    "format": 2}
            cf = meta_old.get("change_feed") if change_feed is None \
                else change_feed
            if cf:
                meta["change_feed"] = True
            if stats_cols:
                unknown = [c for c in stats_cols if c not in df.columns]
                if unknown:
                    raise ValueError(f"unknown stats_cols {unknown}")
                meta["stats_cols"] = list(stats_cols)
            if partition_by is not None:
                pcols = [partition_by] if isinstance(partition_by, str) \
                    else list(partition_by)
                for c in pcols:
                    if dict(df.dtypes)[c] not in (
                            "tinyint", "smallint", "int", "bigint",
                            "string"):
                        raise ValueError(
                            f"partition column must be integral or "
                            f"string, got {dict(df.dtypes)[c]}")
                meta["partition_by"] = pcols[0] if len(pcols) == 1 \
                    else pcols
            adds = self._write_files(df, meta)
            return [{"op": "replace_table"}, {"meta": meta}, *adds,
                    *({"remove": {"path": p}} for p in live_old)], None

        self._transact(attempt)

    def restore_at(self, ts: float) -> dict:
        """RESTORE TO TIMESTAMP AS OF: restore to the newest version
        committed at-or-before ``ts`` (Delta's ``RESTORE TABLE ...
        TO TIMESTAMP AS OF`` spelling) — :meth:`version_at` resolution,
        :meth:`restore` semantics."""
        return self.restore(self.version_at(ts))

    def restore(self, version: int) -> dict:
        """Delta RESTORE: reset the table's LIVE state (files, attached
        deletion vectors, AND declared metadata) to ``version`` in one
        NEW commit — an undo that preserves history: every version
        between stays time-travelable, and the restore itself is just
        another version. Fails with a clear error if the target
        version's files were already vacuumed.

        ROW-TRACKED when the table has a change feed: the restore
        materializes its own row-level diff as change files, so
        :meth:`read_changes` (and the streaming CDF source) flow
        EXACTLY across the restore instead of forcing a consumer
        resync — a step beyond Delta, whose RESTORE breaks CDF
        consumers. The diff costs O(files that changed since the
        target): files live in BOTH states with identical deletion
        vectors cannot contribute changed rows and are never read;
        the rest diff via ``exceptAll`` (rows leaving the live set →
        ``delete``, rows returning → ``insert``). The one case that
        keeps the legacy resync contract is a restore ACROSS a schema
        change (declared schema or column mapping differ between the
        current and target versions) — the pre-image rows then have no
        faithful representation under the restored schema, so the
        commit is marked untracked and consumers resync as before."""
        def attempt(meta_now, live_now, base):
            meta_t, live_t = self._state(version)
            if meta_t is None:
                raise FileNotFoundError(f"no table at {self.root}")
            gone = [a["path"] for a in live_t.values()
                    if not os.path.exists(
                        os.path.join(self.data_dir, a["path"]))]
            if gone:
                raise ValueError(
                    f"cannot restore to version {version}: {len(gone)} "
                    f"file(s) already vacuumed (e.g. {gone[0]})")
            op_act: dict = {"op": "restore", "to": version}
            cdf: list[dict] = []
            if (meta_t.get("change_feed")
                    and meta_now.get("schema") == meta_t.get("schema")
                    and (meta_now.get("column_mapping") or {})
                    == (meta_t.get("column_mapping") or {})):
                changes = self._live_set_diff(meta_t, live_now, live_t)
                if changes is not None:
                    cdf = self._write_cdf(changes, meta_t)
                op_act["tracked"] = True      # row-level diff captured
            actions: list[dict] = [op_act, {"meta": meta_t}]
            actions.extend(cdf)
            for a in live_t.values():
                actions.append(
                    {"add": {k: v for k, v in a.items() if k != "_dvs"}})
                actions.extend({"dv": {"path": a["path"], "keys": dvf}}
                               for dvf in a.get("_dvs", []))
            actions.extend({"remove": {"path": p}} for p in live_now
                           if p not in live_t)
            return actions, {"restored_to": version,
                             "files_live": len(live_t),
                             "cdf_tracked": op_act.get("tracked", False)}

        return self._transact(attempt)

    def clone_to(self, dest_root: str) -> "TxTable":
        """Delta-style SHALLOW CLONE, zero-copy: a NEW table whose
        version-0 create references hard links of the source's current
        data (and DV) files. Both tables' files are immutable, so the
        link share is invisible: writes diverge into each table's own
        new files, and either side's VACUUM only unlinks its own name
        (the inode lives while any table references it). The instant
        dev/test-copy primitive for a 100 TB table — metadata-sized
        cost, not data-sized."""
        meta, live = self._state()
        dest = TxTable(self.spark, dest_root,
                       checkpoint_interval=self.checkpoint_interval)
        if dest.versions():
            raise ValueError(f"table already exists at {dest_root}")
        actions: list[dict] = [{"op": "create"},
                               {"meta": {k: v for k, v in meta.items()}}]
        linked: set[str] = set()

        def link(name: str) -> None:
            if name not in linked:
                os.link(os.path.join(self.data_dir, name),
                        os.path.join(dest.data_dir, name))
                linked.add(name)

        for a in live.values():
            link(a["path"])
            actions.append(
                {"add": {k: v for k, v in a.items() if k != "_dvs"}})
            for dvf in a.get("_dvs", []):
                link(dvf)
                actions.append({"dv": {"path": a["path"], "keys": dvf}})
        if not dest._commit(actions, 0):
            raise RuntimeError(f"concurrent create at {dest_root}")
        return dest

    def _key_pruner(self, keys: DataFrame, key: str):
        """File pruning for a key SET: returns ``prune(add-actions) ->
        touched subset``. Under ``_BLOOM_PROBE_CAP`` distinct keys, one
        tiny collect serves range bounds and bloom probes and the filter
        runs driver-side. OVER the cap the decision moves IN-PLAN: the
        per-file [kmin, kmax]+bloom stats (one small row per candidate
        file) broadcast against the keys DataFrame, per-(key, file)
        range intersection + bloom probe evaluate as built-in
        expressions, and only the matching file list collects — the same
        per-key selectivity at any key-set size, where the pre-r9 code
        fell back to global-range-only pruning. Conservative either way:
        a false positive costs a needless file scan/rewrite, never a
        wrong result. Shared by merge, delete, and
        :meth:`read_matching`; callers invoke ``prune`` inside their
        commit-retry loop so a refreshed live set is re-pruned."""
        probed = keys.select(F.col(key).alias("__k"),
                             _bloom_positions(key).alias("__p")) \
                     .where(F.col(key).isNotNull()).distinct()
        # ONE collect serves both range bounds and bloom probes while the
        # key set is under the cap (a second tiny agg job per call adds
        # real per-micro-batch latency in streaming sinks)
        rows = probed.limit(_BLOOM_PROBE_CAP + 1).collect()
        if len(rows) <= _BLOOM_PROBE_CAP:
            return _local_key_prune(rows)

        ktype = dict(keys.dtypes)[key]

        def prune(actions: list) -> list:
            if not actions:
                return []
            stats = self.spark.createDataFrame(
                [(a["path"], a["kmin"], a["kmax"], a.get("bloom"))
                 for a in actions],
                schema=f"path string, kmin {ktype}, kmax {ktype}, "
                       f"bloom string")
            matched = {
                r["path"]
                for r in probed
                .join(F.broadcast(stats),
                      (F.col("__k") >= F.col("kmin"))
                      & (F.col("__k") <= F.col("kmax"))
                      & F.expr(_bloom_match_sql()))
                .select("path").distinct().collect()}
            return [a for a in actions if a["path"] in matched]

        return prune

    def read_matching(self, keys: DataFrame,
                      version: int | None = None) -> DataFrame:
        """Data-skipping read for an arbitrary KEY SET — the read twin of
        the merge's pruning: scan only the files whose range+bloom stats
        can contain ANY requested key, then semi-join the exact keys.
        A scattered point-lookup batch (user ids, order keys) touches
        O(matching files), not the table — e.g. the streaming upsert
        sink folds in current rows for just its micro-batch's users this
        way instead of scanning every live file per batch."""
        return self._read_matching(*self._read_state(version), keys)

    def _read_matching(self, meta: dict, live: dict,
                       keys: DataFrame) -> DataFrame:
        """:meth:`read_matching` over a state the caller already holds."""
        key = meta["key_col"]
        keys = keys.select(key).distinct()
        prune = self._key_pruner(keys, key)
        files = prune(list(live.values()))
        return self._read_files(meta, files).join(keys, key, "semi")

    def _values_frame(self, col: str, dtype, values: list) -> DataFrame:
        """``values`` as a one-column frame ``col`` of type ``dtype``: an
        inline ``VALUES`` table with the values bound as parameters, so
        it plans as a local relation and a projection over it (the
        bloom probes, a generation expression) collects on the driver
        with no Spark job. Empty ``values`` give an empty frame."""
        name = "`" + col.replace("`", "``") + "`"
        t = dtype.simpleString()
        if not values:
            return self.spark.sql(
                f"SELECT CAST(NULL AS {t}) AS {name} WHERE false")
        rows = ", ".join(f"(:v{i})" for i in range(len(values)))
        return self.spark.sql(
            f"SELECT CAST(c AS {t}) AS {name} FROM VALUES {rows} AS t(c)",
            args={f"v{i}": v for i, v in enumerate(values)})

    def read_col_in(self, col: str, values: list,
                    version: int | None = None) -> DataFrame:
        """BLOOM-INDEX point lookup on a declared ``bloom_cols`` column
        (Delta's bloom filter index read path): scan only the files
        whose per-file column bloom may contain ANY of the requested
        values, with the exact ``IN`` predicate as a residual filter.
        The data-skipping answer for a high-cardinality column that is
        neither the merge key (use :meth:`read_matching`) nor clustered
        (where :meth:`read_stats_range`'s min/max never prune — every
        file's range spans the domain). Files written before the column
        was indexed carry no bloom and are conservatively scanned.
        ``values`` is a small literal set (a point-lookup batch); its
        probe positions are the same Spark expression the write side
        folds, evaluated over a local relation on the driver with no
        Spark job (:meth:`_values_frame`), so the hashes match exactly."""
        meta, live = self._read_state(version)
        declared = meta.get("bloom_cols") or []
        if col != meta["key_col"] and col not in declared:
            raise ValueError(
                f"column '{col}' has no bloom index (declared: "
                f"{declared}) — create(bloom_cols=[...]) to index it")
        schema = StructType.fromJson(json.loads(meta["schema"]))
        vdf = self._values_frame(col, schema[col].dataType, values)
        if col == meta["key_col"]:
            # the key has the strictly stronger range+bloom path, here
            # with the literal keys deduped and range-checked on the
            # driver instead of by the pruner's distinct-keys job
            rows = {r["__k"]: r for r in
                    vdf.where(F.col(col).isNotNull())
                       .select(F.col(col).alias("__k"),
                               _bloom_positions(col).alias("__p"))
                       .collect()}
            prune = _local_key_prune(list(rows.values()))
            return self._read_files(meta, prune(list(live.values()))) \
                       .where(F.col(col).isin(list(rows)))
        bbits = int(meta.get("bloom_bits") or _COL_BLOOM_BITS)
        probes = {tuple(int(x) for x in r["__p"]) for r in
                  vdf.where(F.col(col).isNotNull())
                     .select(_bloom_positions(col, bbits).alias("__p"))
                     .collect()}
        # blooms are keyed by PHYSICAL name — pre-rename files keep
        # pruning, exactly like cstats
        pcol = (meta.get("column_mapping") or {}).get(col, col)

        def may_contain(a: dict) -> bool:
            cb = a.get("cblooms")
            if cb is None or pcol not in cb:
                return True                  # pre-index file — scan
            bm = int(cb[pcol], 16)
            return any(all((bm >> p) & 1 for p in probe)
                       for probe in probes)

        files = [a for a in live.values() if may_contain(a)]
        return self._read_files(meta, files) \
                   .where(F.col(col).isin(list(values)))

    def append(self, df: DataFrame, merge_schema: bool = False) -> None:
        """ACID append: new files + one log commit.

        ``merge_schema=True`` is Delta's ``mergeSchema`` write option:
        new columns in ``df`` extend the declared schema ATOMICALLY in
        the same commit as the data (old files surface them as NULL;
        declared columns missing from ``df`` fill as NULLs) — the
        drifting-upstream ingest case. The evolving path (schema merge
        or identity column) derives its schema action and identity mark
        at the base it commits on, so a lost race rewrites. The default
        path's files depend only on the meta: a race lost to a
        data-only commit re-commits the same files, and only a race
        lost to a meta change (a new constraint, a schema change)
        re-checks and rewrites the batch against the new meta."""
        # pinned (see merge_upsert): the batch is read by the
        # constraint/generated validation job and again by the file
        # write — and a foreachBatch append's re-read replays the
        # micro-batch source
        with pins() as pin:
            df = pin(df)
            written: dict = {}

            def attempt(meta, live, base):
                ident = meta.get("identity")
                if ident and ident["col"] in df.columns:
                    raise ValueError(
                        f"identity column '{ident['col']}' is GENERATED "
                        f"ALWAYS — it must not be provided on append")
                if not merge_schema and not ident:
                    if written.get("meta") != meta:
                        written["meta"] = meta
                        written["adds"] = self._write_files(
                            self._check_schema(df, meta), meta)
                    return [{"op": "append"}, *written["adds"]], None
                dfx = df
                if ident:
                    # distributed assignment from the CURRENT mark; the
                    # written files are the truth for the next mark
                    dfx = dfx.withColumn(
                        ident["col"],
                        (F.lit(ident["next"]).cast("long")
                         + F.monotonically_increasing_id()))
                if merge_schema:
                    meta2, dfx = self._merged_schema(meta, dfx)
                else:
                    meta2 = meta
                adds = self._write_files(self._check_schema(dfx, meta2),
                                         meta2)
                if ident:
                    meta2 = dict(meta2)
                    meta2["identity"] = {
                        "col": ident["col"],
                        "next": self._identity_hwm(adds, ident["col"],
                                                   meta2)}
                actions: list[dict] = [{"op": "append"}]
                if meta2 is not meta:
                    actions.append({"meta": meta2})
                return actions + adds, None

            self._transact(attempt)

    def copied_files(self, version: int | None = None) -> set[str]:
        """The file identities (``path|size|mtime_ms``) every
        ``copy_into`` commit at-or-before ``version`` has loaded — the
        idempotence ledger, folded by :meth:`_replay` (decision-aware
        like every writer read: an ABORTED staged copy_into never
        poisons it). Note the ledger is HISTORY, not state: a RESTORE
        does not erase it (the same gotcha Delta documents for COPY
        INTO after RESTORE — pass ``force=True`` to reload)."""
        return self._replay(version)[3]

    def copy_into(self, paths: list[str] | str, fmt: str = "parquet",
                  options: dict | None = None,
                  force: bool = False) -> dict:
        """Delta/Snowflake ``COPY INTO``: idempotent bulk file ingest.
        Loads the given files (or every data file under a directory)
        into the table as an append, recording each source file's
        identity (absolute path + size + mtime) in the SAME commit —
        re-running the exact command skips files already loaded, so a
        retried ingest job (orchestrator re-run, crashed driver) never
        double-loads. A file that was rewritten in place (size or mtime
        changed) counts as new, matching Delta's semantics.

        Scale shape: listing and the ledger replay are metadata-plane
        (O(#files ever copied), same order as the log replay every read
        already does); the DATA read touches only the not-yet-loaded
        files. Non-parquet formats (csv/json) read under the table's
        declared schema — no inference pass over a 100 TB landing dir.

        Concurrency: the ledger is recomputed against the pinned base
        on every attempt, so two racing ``copy_into`` runs over the
        same landing directory never load a file twice (the loser
        re-plans; its orphaned files fall to ``vacuum_uncommitted``).

        The ledger is HISTORY: a RESTORE resets the data but not the
        ledger (Delta's documented COPY INTO behavior) — pass
        ``force=True`` to load regardless, e.g. to re-ingest after an
        undo."""
        if isinstance(paths, str):
            root = paths
            cand = sorted(
                os.path.join(dp, f) for dp, _, fs in os.walk(root)
                for f in fs
                if not f.startswith((".", "_")))
        else:
            cand = sorted(paths)

        def ident_of(p: str) -> str:
            st = os.stat(p)
            return f"{os.path.abspath(p)}|{st.st_size}|" \
                   f"{int(st.st_mtime * 1000)}"

        idents = {p: ident_of(p) for p in cand}

        def attempt(meta, live, base):
            if meta.get("identity"):
                raise ValueError(
                    "copy_into on a table with an identity column is "
                    "not supported — use append")
            loaded = set() if force else self.copied_files(base)
            todo = [p for p in cand if idents[p] not in loaded]
            if not todo:
                return None, {"files_loaded": 0, "files_skipped": len(cand),
                              "rows_loaded": 0}
            schema = StructType.fromJson(json.loads(meta["schema"]))
            reader = self.spark.read.format(fmt)
            for k, v in (options or {}).items():
                reader = reader.option(k, v)
            if fmt != "parquet":
                # declared schema, not inference — one less full pass
                reader = reader.schema(schema)
            adds = self._write_files(
                self._check_schema(reader.load(todo), meta), meta)
            return [{"op": "copy_into",
                     "files": sorted(idents[p] for p in todo)}, *adds], \
                {"files_loaded": len(todo),
                 "files_skipped": len(cand) - len(todo),
                 "rows_loaded": sum(a["add"]["rows"] for a in adds)}

        return self._transact(attempt)

    @staticmethod
    def _stamp_feature(meta: dict, *names: str) -> tuple[dict, bool]:
        """(meta', changed): meta with ``names`` added to
        ``reader_features``. Writers call this in the SAME commit that
        first uses a reader-critical feature (DVs, column mapping, type
        widening) so old readers hit the
        :class:`UnsupportedTableFeatureError` fence atomically with the
        first unreadable-by-them byte."""
        have = set(meta.get("reader_features") or ())
        want = have | set(names)
        if want == have:
            return meta, False
        m = dict(meta)
        m["reader_features"] = sorted(want)
        return m, True

    def _retry_if_disjoint(self, base: int, actions: list[dict],
                           prune, txn_app: str | None = None,
                           max_attempts: int = 20) -> int | None:
        """WriteSerializable conflict classification (the Delta rule:
        ConcurrentAppendException only when an interleaved file MIGHT
        match this command's read predicate). :meth:`_transact` calls
        it when a key-set DML attempt (``merge_upsert``, ``merge_when``,
        ``apply_changes``, ``delete_keys``, ``delete_keys_dv``) lost its
        optimistic commit at ``base+1``: examine every commit that
        landed after ``base``; if ALL of them are blind appends whose
        added files the attempt's key pruner rejects (their
        [kmin,kmax]+bloom cannot contain any of its keys), the files the
        op read, the rows it matched and the meta it built are
        unchanged, so its actions are still exactly right — RE-COMMIT
        them at the new head instead of re-running the whole data
        plane. The one rule holds for all five ops because each one's
        result depends only on rows holding its keys. Returns the
        committed version, or None on a real conflict (the caller
        re-runs the attempt at the fresh snapshot).

        Conservative by construction: any non-append op, schema change,
        pending (in-doubt) transaction marker, remove action, or add
        without key stats counts as a conflict. A false conflict only
        costs the re-run that would have happened anyway.
        """
        checked_to = base
        for _ in range(max_attempts):
            latest = self.versions()[-1]
            for v in range(checked_to + 1, latest + 1):
                for a in self._read_commit(v):
                    if "op" in a:
                        if a["op"] != "append":
                            return None
                    elif "add" in a:
                        add = a["add"]
                        if "kmin" not in add or "kmax" not in add:
                            return None          # stats-less: can't prove
                        if prune([add]):
                            return None          # may hold one of our keys
                    elif "txn" in a:
                        if txn_app is not None \
                                and a["txn"].get("app") == txn_app:
                            # a concurrent writer of OUR app committed a
                            # batch — the replay guard at the loop top
                            # must re-evaluate, so take the re-run path
                            return None
                    else:
                        # pending/meta/remove/dv/anything future — bail
                        return None
            checked_to = latest
            if self._commit(actions, latest + 1):
                return latest + 1
        return None

    def _rewrite_keys(self, op: str, meta: dict, live: dict,
                      ups: DataFrame | None, dels: DataFrame | None):
        """THE copy-on-write key-set rewrite behind :meth:`merge_upsert`,
        :meth:`apply_changes` and :meth:`delete_keys`: ``ups`` are
        schema-checked rows to upsert and ``dels`` distinct keys to
        delete, either may be None. Only the files whose range+bloom
        stats can hold one of their keys are touched: those files' rows
        minus the keys, plus ``ups``, are written as new files and the
        touched files removed. Returns ``(actions, result, prune)`` for
        :meth:`_transact`."""
        key = meta["key_col"]
        if dels is None:
            keys = ups
        elif ups is None:
            keys = dels
        else:
            keys = ups.select(key).unionByName(dels).distinct()
        prune = self._key_pruner(keys, key)
        touched = prune(list(live.values()))
        adds: list[dict] = []
        if touched:
            old = self._read_files(meta, touched)
            keep = old.join(ups.select(key) if dels is None else keys,
                            key, "left_anti")
            adds = self._write_files(
                keep if ups is None else keep.unionByName(ups), meta)
        elif ups is not None:
            adds = self._write_files(ups, meta)
        cdf: list[dict] = []
        if meta.get("change_feed"):
            # row-level change capture over the TOUCHED files only
            # (pruning is conservative, so they hold every existing
            # affected key) — O(touched), like the rewrite
            tagged = []                  # (rows, _change_type), feed order
            if touched and ups is not None:
                tagged.append((old.join(ups.select(key), key, "semi"),
                               "update_preimage"))
            if touched and dels is not None:
                tagged.append((old.join(dels, key, "semi"), "delete"))
            if touched and ups is not None:
                old_keys = old.select(key)
                tagged += [(ups.join(old_keys, key, "semi"),
                            "update_postimage"),
                           (ups.join(old_keys, key, "left_anti"), "insert")]
            elif ups is not None:
                tagged.append((ups, "insert"))
            if tagged:
                cdf = self._write_cdf(functools.reduce(
                    DataFrame.unionByName,
                    [rows.withColumn("_change_type", F.lit(kind))
                     for rows, kind in tagged]), meta)
        actions = [{"op": op}, *adds, *cdf,
                   *({"remove": {"path": a["path"]}} for a in touched)]
        return actions, {"files_scanned": len(live),
                         "files_rewritten": len(touched),
                         "files_untouched": len(live) - len(touched)}, prune

    def merge_upsert(self, updates: DataFrame,
                     txn: tuple[str, int] | None = None,
                     merge_schema: bool = False) -> dict:
        """SCD1 ``MERGE``: rows matching an update key are replaced, new
        keys inserted — rewriting ONLY the files whose [kmin, kmax] can
        contain an update key. Returns {files_scanned, files_rewritten,
        files_untouched} so callers (and tests) can see the pruning.

        The update key bounds come from one tiny aggregate; pruning is
        range-intersection against the per-file stats (conservative —
        false positives rewrite a file needlessly, never a wrong result).
        On a lost commit race the merge recomputes against the new
        snapshot (the rewrite must see the winner's rows).

        ``txn=(app, batch_id)`` makes the commit IDEMPOTENT: the marker
        rides in the log, and a merge whose batch id is ≤ the app's last
        committed one is skipped — so a replayed ``foreachBatch``
        micro-batch (restart re-delivery) is a no-op instead of a double
        apply. This is what gives a streaming sink exactly-once table
        semantics on top of at-least-once batch delivery.

        ``merge_schema=True``: Delta's ``mergeSchema`` — new source
        columns extend the declared schema atomically with the merge
        (see :meth:`append`); kept target rows from pre-evolution
        files surface the new columns as NULL."""
        # Pin the source for the duration of the commit: the merge
        # reads it for the key pruner, the rewrite, the constraint
        # check, and (with CDF on) three change-capture branches — and
        # in a foreachBatch sink each re-read replays the micro-batch
        # source. One materialization (the pruner's own collect — no
        # extra job), every later pass scans cached blocks.
        with pins() as pin:
            updates = pin(updates)

            def attempt(meta, live, base):
                meta2, upd = self._merged_schema(meta, updates) \
                    if merge_schema else (meta, updates)
                # validate + normalize to the table's column order so
                # every data file carries the same physical layout
                actions, result, prune = self._rewrite_keys(
                    "merge", meta2, live, self._check_schema(upd, meta2),
                    None)
                if meta2 is not meta:
                    actions.insert(1, {"meta": meta2})
                return actions, result, prune

            return self._transact(attempt, txn)

    def merge_when(self, source: DataFrame,
                   update_cond: str | None = None,
                   delete_cond: str | None = None,
                   insert_cond: str | None = None,
                   txn: tuple[str, int] | None = None) -> dict:
        """Delta-style CONDITIONAL MERGE — ``WHEN MATCHED [AND cond]
        THEN UPDATE / DELETE, WHEN NOT MATCHED [AND cond] THEN
        INSERT``. Conditions are Spark SQL over two struct columns:
        ``src`` (the source row) and ``tgt`` (the current table row),
        e.g. ``"src.ts > tgt.ts"`` — the idiomatic late-data guard.

        Clause semantics (Delta's order): a matched pair checks
        ``delete_cond`` first, then ``update_cond`` (replace with the
        source row), else keeps the target row unchanged; an unmatched
        source row inserts iff ``insert_cond`` (default: always); an
        unmatched target row always survives. ``update_cond=None``
        means unconditional update (plain upsert);
        ``delete_cond=None`` disables the delete clause.

        Same storage shape as :meth:`merge_upsert`: only the files
        whose range+bloom stats can hold a source key rewrite
        (O(touched files)); version-pinned read + commit at base+1 (no
        lost updates); optional ``txn`` marker for exactly-once
        streaming replay; CDF capture when enabled.

        CHECK constraints are enforced on the rows actually WRITTEN
        (the post-clause output), not on the raw source — Delta's
        semantics: a delete-only merge whose tombstone-shaped source
        rows violate a constraint is legal, because those rows are
        consumed by the delete clause and never land in a file."""
        upd = F.expr(update_cond) if update_cond else F.lit(True)
        dele = F.expr(delete_cond) if delete_cond else F.lit(False)
        ins = F.expr(insert_cond) if insert_cond else F.lit(True)
        # pinned for the commit's lifetime (see merge_upsert): read by
        # the pruner, both sides of the clause join's data write, the
        # constraint check, and the CDF capture
        with pins() as pin:

            def attempt(meta, live, base):
                key = meta["key_col"]
                src = pin(self._check_schema(source, meta,
                                             constraints=False))
                cols = src.columns
                prune = self._key_pruner(src, key)
                touched = prune(list(live.values()))
                old = self._read_files(meta, touched)
                j = (old.select(F.struct(*cols).alias("tgt"))
                     .join(src.select(F.struct(*cols).alias("src")),
                           F.col(f"tgt.{key}") == F.col(f"src.{key}"),
                           "full"))
                matched = F.col("tgt").isNotNull() & F.col("src").isNotNull()
                none = F.lit(None).cast(j.schema["tgt"].dataType)
                keep_row = (
                    F.when(matched & dele, none)
                     .when(matched & upd, F.col("src"))
                     .when(matched, F.col("tgt"))
                     .when(F.col("tgt").isNotNull(), F.col("tgt"))   # tgt-only
                     .when(ins, F.col("src"))                        # src-only
                     .otherwise(none))
                new_rows = (j.select(keep_row.alias("r"))
                             .where(F.col("r").isNotNull())
                             .select("r.*"))
                # constraints on the rows this merge actually WRITES from
                # the source (updates + inserts) — kept target rows were
                # validated by their own writes, delete-consumed and
                # insert-filtered source rows never land in a file
                self._validate_constraints(
                    j.where((matched & ~dele & upd)
                            | (F.col("tgt").isNull() & ins)).select("src.*"),
                    meta)
                adds = self._write_files(new_rows, meta)
                cdf: list[dict] = []
                if meta.get("change_feed"):
                    # _change_type must resolve src/tgt BEFORE flattening
                    pre = (j.where(matched & (dele | upd))
                           .withColumn("_change_type",
                                       F.when(dele, F.lit("delete"))
                                        .otherwise(F.lit("update_preimage")))
                           .select("tgt.*", "_change_type"))
                    post = (j.where(matched & ~dele & upd)
                            .withColumn("_change_type",
                                        F.lit("update_postimage"))
                            .select("src.*", "_change_type"))
                    inserted = (j.where(F.col("tgt").isNull() & ins)
                                .withColumn("_change_type", F.lit("insert"))
                                .select("src.*", "_change_type"))
                    cdf = self._write_cdf(pre.unionByName(post)
                                          .unionByName(inserted), meta)
                actions = [{"op": "merge"}, *adds, *cdf,
                           *({"remove": {"path": a["path"]}} for a in touched)]
                return actions, {"files_scanned": len(live),
                                 "files_rewritten": len(touched),
                                 "files_untouched":
                                     len(live) - len(touched)}, prune

            return self._transact(attempt, txn)

    def apply_changes(self, changes: DataFrame,
                      txn: tuple[str, int] | None = None) -> dict:
        """APPLY CHANGES INTO (the consumer half of the change feed —
        Delta Live Tables' CDC-apply): take a batch of row-level
        changes (table columns + ``_change_type``, optionally
        ``_commit_version`` — exactly :meth:`read_changes`' shape), NET
        them per key (the LAST change by ``_commit_version`` wins;
        ``update_preimage`` rows are bookkeeping and ignored), and
        apply the resulting upserts AND deletes in ONE atomic commit —
        the primitive that turns a change feed into a row-level
        REPLICA of the source table.

        Storage shape matches :meth:`merge_upsert`: only files whose
        range+bloom stats can hold an affected key rewrite; the
        optional ``txn`` marker makes a replayed micro-batch a logged
        no-op (exactly-once replication on at-least-once delivery);
        CDF capture when enabled, so replicas can chain."""
        from pyspark.sql.window import Window as W

        if "_change_type" not in changes.columns:
            raise ValueError("changes must carry _change_type "
                             "(read_changes' shape)")
        ord_col = F.col("_commit_version") \
            if "_commit_version" in changes.columns else F.lit(0)
        # pin the NETTED batch (see merge_upsert): ups, dels and their
        # key union all derive from it, and each un-cached re-read would
        # replay the micro-batch source (a Python data-source scan in
        # the streaming replica) plus the netting window shuffle
        with pins() as pin:

            def attempt(meta, live, base):
                key = meta["key_col"]
                last = pin(
                    changes.where(F.col("_change_type") != "update_preimage")
                    .withColumn("__rn", F.row_number().over(
                        W.partitionBy(key).orderBy(F.desc(ord_col))))
                    .where(F.col("__rn") == 1))
                cols = [f["name"]
                        for f in json.loads(meta["schema"])["fields"]]
                ups = self._check_schema(
                    last.where(F.col("_change_type") != "delete")
                    .select(*cols), meta)
                dels = last.where(F.col("_change_type") == "delete") \
                           .select(key).distinct()
                return self._rewrite_keys("merge", meta, live, ups, dels)

            return self._transact(attempt, txn)

    def delete_keys(self, keys: DataFrame) -> dict:
        """Transactional DELETE by key: rewrite only the files that can
        contain a deleted key (same range+bloom pruning as the merge),
        dropping the matching rows; every other file survives untouched.
        Returns the same pruning stats as :meth:`merge_upsert`."""
        # pinned (see merge_upsert): pruner + anti-join + CDF semi-join
        with pins() as pin:

            def attempt(meta, live, base):
                return self._rewrite_keys(
                    "delete", meta, live, None,
                    pin(keys.select(meta["key_col"]).distinct()))

            return self._transact(attempt)

    def delete_keys_dv(self, keys: DataFrame) -> dict:
        """MERGE-ON-READ DELETE via DELETION VECTORS (Delta DVs /
        Iceberg delete files): instead of rewriting every file that
        holds a doomed key (:meth:`delete_keys`'s copy-on-write), record
        the exact (file, key) pairs to hide in ONE small delete-vector
        parquet and attach it to the touched files in the log. Write
        cost is O(deleted rows) + one commit — ZERO data files rewritten;
        every read applies the DV as a broadcast anti-join until a later
        rewrite of the file (merge, compact, zorder,
        :meth:`purge_deletes`) materializes the deletes and the file's
        remove drops its DV. A scattered DELETE on a 100 TB table goes
        from rewriting thousands of files to writing kilobytes — the
        write-amplification fix that made DVs the modern lakehouse
        default. Upsert-after-delete stays correct: the merge reads
        touched files DV-applied, so a re-inserted key lands fresh in a
        DV-free file. Returns {files_tagged, rows_deleted}."""
        # pinned (see merge_upsert): pruner + DV semi-join + CDF
        with pins() as pin:

            def attempt(meta, live, base):
                key = meta["key_col"]
                ks = pin(keys.select(key).distinct())
                prune = self._key_pruner(ks, key)
                touched = prune(list(live.values()))
                if not touched:
                    return None, {"files_tagged": 0, "rows_deleted": 0}
                # DV-applied read (already-hidden rows are not re-recorded),
                # file column kept so the pairs are per-file exact
                old = self._read_files(meta, touched, keep_file_col="__file")
                doomed = old.join(ks, key, "semi")
                # DVs are kilobytes by design, but a table-sized key set
                # must not funnel through one writer task: hash-partition
                # the pairs by touched FILE (~64 data files per DV file, so
                # the small-delete case still writes one), each data file's
                # pairs land wholly in one DV file, and the write scales
                # out with the delete instead of coalescing to a task
                n_dv = max(1, (len(touched) + 63) // 64)
                dv_paths = self._publish_staged(
                    doomed.select(F.col("__file"), F.col(key).alias("__key"))
                    .repartition(n_dv, F.col("__file"))
                    .write.mode("overwrite").parquet, "dv-")
                # one metadata-plane job: (dv file, data file) pairs +
                # counts — one row per touched file, the same order as
                # the merge's own stats collect
                stats = (self.spark.read.parquet(
                             *[os.path.join(self.data_dir, p)
                               for p in dv_paths])
                         .groupBy(F.element_at(
                             F.split(F.input_file_name(), "/"), -1)
                             .alias("__dv"), "__file")
                         .agg(F.count(F.lit(1)).alias("n"))).collect()
                dv_of = {r["__file"]: r["__dv"] for r in stats}
                n_del = sum(r["n"] for r in stats)
                # unlink DV files no pair landed in (empty hash buckets)
                used = {r["__dv"] for r in stats}
                for p in dv_paths:
                    if p not in used:
                        os.unlink(os.path.join(self.data_dir, p))
                if n_del == 0:
                    return None, {"files_tagged": 0, "rows_deleted": 0}
                cdf: list[dict] = []
                if meta.get("change_feed"):
                    cdf = self._write_cdf(
                        doomed.drop("__file")
                        .withColumn("_change_type", F.lit("delete")), meta)
                meta2, stamped = self._stamp_feature(meta, "deletion_vectors")
                actions = [{"op": "delete_dv"},
                           *([{"meta": meta2}] if stamped else []),
                           *({"dv": {"path": a["path"],
                                     "keys": dv_of[a["path"]]}}
                             for a in touched if a["path"] in dv_of),
                           *cdf]
                return actions, {"files_tagged": len(dv_of),
                                 "rows_deleted": int(n_del)}, prune

            return self._transact(attempt)

    def update_where(self, set_exprs: dict[str, str], where: str,
                     partitions=None, key_lo=None, key_hi=None,
                     stats: dict | None = None) -> dict:
        """Delta-style predicate ``UPDATE ... SET ... WHERE``: rows
        matching ``where`` (a Spark SQL predicate over the table's
        columns) get each ``set_exprs`` column replaced by its
        expression (evaluated against the OLD row, cast to the
        declared column type); every other row — and every file
        holding no matching row — survives untouched.

        Two-phase, like Delta's UPDATE: (1) find the touched files —
        the optional ``partitions``/``key_lo``/``key_hi``/``stats``
        bounds prune candidates on the log alone (they AND into the
        effective predicate, same semantics as :meth:`read_where`),
        then one scan of the candidates counts matches per file; (2)
        rewrite ONLY the files that hold a match. Updating partition
        columns is legal (rows migrate partitions — the write re-splits
        them pure); CHECK constraints validate the updated rows; CDF
        captures update pre/post images. Returns {files_scanned,
        files_rewritten, files_untouched, rows_matched}."""
        if not set_exprs:
            raise ValueError("no SET expressions")
        return self._dml_where("update", where, set_exprs,
                               partitions, key_lo, key_hi, stats)

    def delete_where(self, where: str, partitions=None,
                     key_lo=None, key_hi=None,
                     stats: dict | None = None) -> dict:
        """Delta-style predicate ``DELETE WHERE``: drop the rows
        matching ``where``, rewriting only the files that hold one —
        same two-phase touched-file discovery, pruning hints, CDF
        delete capture, and return shape as :meth:`update_where`.
        For key-set deletes prefer :meth:`delete_keys` (bloom-pruned)
        or :meth:`delete_keys_dv` (zero rewrite)."""
        return self._dml_where("delete", where, None,
                               partitions, key_lo, key_hi, stats)

    def _dml_where(self, kind: str, where: str, set_exprs,
                   partitions, key_lo, key_hi, stats) -> dict:
        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            if set_exprs:
                unknown = [c for c in set_exprs
                           if c not in schema.fieldNames()]
                if unknown:
                    raise ValueError(f"SET on unknown columns {unknown}")
                gen_set = [c for c in set_exprs
                           if c in (meta.get("generated") or {})]
                if gen_set:
                    raise ValueError(
                        f"cannot SET generated columns {gen_set} — "
                        f"they recompute from their expressions")
            candidates, residual = self._prune_live(
                meta, live, partitions, key_lo, key_hi, stats)
            pred = F.expr(where)
            if residual is not None:
                pred = pred & residual
            # phase 1: one candidate scan → per-file match counts
            # (metadata-plane collect, one row per candidate file)
            hits = (self._read_files(meta, candidates,
                                     keep_file_col="__file")
                    .where(pred).groupBy("__file")
                    .agg(F.count(F.lit(1)).alias("n"))).collect()
            n_matched = sum(r["n"] for r in hits)
            touched_names = {r["__file"] for r in hits}
            if not touched_names:
                return None, {"files_scanned": len(candidates),
                              "files_rewritten": 0,
                              "files_untouched": len(live),
                              "rows_matched": 0}
            touched = [a for a in candidates
                       if a["path"] in touched_names]
            # Pin the touched-file read for the commit: the rewrite,
            # the constraint check and (with CDF on) the pre/post-image
            # branches each re-scan it otherwise — same per-commit
            # source-pinning contract as merge_upsert/apply_changes.
            with pins() as pin:
                old = pin(self._read_files(meta, touched))
                matched = old.where(pred)
                kept = old.where(~pred.eqNullSafe(F.lit(True)))
                if kind == "update":
                    updated = matched.select(
                        *[F.expr(set_exprs[f.name]).cast(f.dataType)
                           .alias(f.name) if f.name in set_exprs
                          else F.col(f.name) for f in schema.fields])
                    # GENERATED columns recompute on the updated rows —
                    # a SET on one of their source columns must never
                    # leave the derived value stale
                    for c, expr in (meta.get("generated") or {}).items():
                        updated = updated.withColumn(
                            c, F.expr(expr).cast(schema[c].dataType))
                    # constraints on the rows actually written (the kept
                    # rows were validated by their own writes)
                    self._validate_constraints(updated, meta)
                    new_rows = kept.unionByName(updated)
                else:
                    new_rows = kept
                adds = self._write_files(new_rows, meta)
                cdf: list[dict] = []
                if meta.get("change_feed"):
                    if kind == "update":
                        changes = (matched.withColumn(
                                       "_change_type",
                                       F.lit("update_preimage"))
                                   .unionByName(updated.withColumn(
                                       "_change_type",
                                       F.lit("update_postimage"))))
                    else:
                        changes = matched.withColumn("_change_type",
                                                     F.lit("delete"))
                    cdf = self._write_cdf(changes, meta)
            actions = [{"op": kind}, *adds, *cdf,
                       *({"remove": {"path": a["path"]}} for a in touched)]
            return actions, {"files_scanned": len(candidates),
                             "files_rewritten": len(touched),
                             "files_untouched": len(live) - len(touched),
                             "rows_matched": int(n_matched)}

        return self._transact(attempt)

    def purge_deletes(self) -> dict:
        """Materialize outstanding deletion vectors: rewrite ONLY the
        files carrying DVs (read DV-applied), one commit whose removes
        drop the DVs — O(dirty files), the scheduled-maintenance twin
        of Delta's ``REORG TABLE ... APPLY (PURGE)``. Reads before and
        after see identical rows; afterwards they stop paying the
        anti-join."""
        def attempt(meta, live, base):
            dirty = [a for a in live.values() if a.get("_dvs")]
            if not dirty:
                return None, {"files_in": 0, "files_out": 0}
            adds = self._write_files(self._read_files(meta, dirty), meta)
            return [{"op": "purge"}, *adds,
                    *({"remove": {"path": a["path"]}} for a in dirty)], \
                {"files_in": len(dirty), "files_out": len(adds)}

        return self._transact(attempt)

    def alter_partitioning(self, cols: list[str] | str | None) -> None:
        """PARTITION EVOLUTION (Iceberg's headline layout feature, the
        conservative-reader variant): change the table's partition
        columns in ONE metadata-only commit — no data rewrite. New
        writes lay out and stamp (``pby``) under the new scheme and
        prune exactly; files written under any OLDER scheme remain
        readable and CONSERVATIVELY scanned by partition-pruned reads
        (their residual filter keeps results exact — only the skip is
        lost), and every rewrite (merge, compact, zorder) migrates the
        rows it touches to the new layout. ``compact()`` is therefore
        the explicit "materialize the evolution" knob, and
        :meth:`replace_where` refuses to run while unmigrated files
        remain (it must not leave hidden rows of the target partition
        live). Readers that predate evolution would trust every
        ``pval`` under the new column list and WRONGLY SKIP old-layout
        files, so the commit stamps the ``partition_evolution`` reader
        feature — old readers fence out loudly instead.
        """
        if cols is not None and not isinstance(cols, list):
            cols = [cols]

        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            have = {f.name for f in schema.fields}
            missing = [c for c in (cols or []) if c not in have]
            if missing:
                raise ValueError(
                    f"partition column(s) {missing} not in schema")
            if _meta_parts(meta) == cols:
                return None, None                # no-op
            new_meta = dict(meta)
            if cols is None:
                new_meta.pop("partition_by", None)
            else:
                new_meta["partition_by"] = \
                    cols[0] if len(cols) == 1 else list(cols)
            new_meta["partition_evolved"] = True
            new_meta = self._stamp_feature(new_meta,
                                           "partition_evolution")[0]
            return [{"op": "alter_partitioning", "to": cols},
                    {"meta": new_meta}], None

        self._transact(attempt)

    def replace_where(self, value, df: DataFrame) -> dict:
        """Atomic PARTITION OVERWRITE — Delta's ``replaceWhere``: in ONE
        commit, drop every file of partition ``value`` and add ``df``'s
        rows in their place. The idempotent daily-reload primitive: a
        backfill job rewrites yesterday's partition without touching (or
        even listing the contents of) any other partition, readers see
        the old or the new partition atomically, and time travel keeps
        the old one.

        Like Delta, a write that STRAYS outside the predicate is
        rejected: the staged files' recorded ``pval`` (exact —
        partition-pure by construction) is checked before the commit,
        so a buggy upstream can't silently leak rows into partitions it
        didn't claim. Cost is O(new rows + old partition's file COUNT)
        — the removes are log entries, not data reads (the change feed,
        if enabled, additionally reads the old partition to capture
        deletes). Returns {files_removed, files_added}."""
        def attempt(meta, live, base):
            pcols = _meta_parts(meta)
            if not pcols:
                raise ValueError(
                    f"table at {self.root} is not partitioned — "
                    f"replace_where needs create(..., partition_by=)")
            tval = next(iter(_norm_pvals([value], len(pcols))))
            foreign = [a for a in live.values()
                       if not _layout_matches(a, meta)]
            if foreign:
                # post-evolution files of an older layout may hold rows
                # of the target partition without being addressable by
                # pval — overwriting would silently leave them live.
                # OPTIMIZE first (compact() rewrites under the current
                # layout), then replaceWhere is exact again.
                raise ValueError(
                    f"replace_where({value!r}): {len(foreign)} live "
                    f"file(s) predate the current partition layout "
                    f"(partition evolution) — run compact() to "
                    f"materialize the new layout first")
            new_df = self._check_schema(df, meta)
            adds = self._write_files(new_df, meta)
            stray = sorted({_pval_tuple(a["add"]) for a in adds
                            if _pval_tuple(a["add"]) != tval})
            if stray:
                for a in adds:
                    os.unlink(os.path.join(self.data_dir, a["add"]["path"]))
                raise ValueError(
                    f"replace_where({value!r}): write contains rows of "
                    f"other partitions {stray[:5]} — rejected before commit")
            doomed = [a for a in live.values() if _pval_tuple(a) == tval]
            cdf: list[dict] = []
            if meta.get("change_feed"):
                old = self._read_files(meta, doomed)
                cdf = self._write_cdf(
                    old.withColumn("_change_type", F.lit("delete"))
                    .unionByName(new_df.withColumn("_change_type",
                                                   F.lit("insert"))), meta)
            actions = [{"op": "replace_where", "pred": dict(zip(pcols, tval))},
                       *adds, *cdf,
                       *({"remove": {"path": a["path"]}} for a in doomed)]
            return actions, {"files_removed": len(doomed),
                             "files_added": len(adds)}

        return self._transact(attempt)

    def compact(self, target_rows: int = 1_000_000) -> dict:
        """OPTIMIZE: bin-pack small data files into ~``target_rows`` files
        (one commit, zero row changes). Appends and narrow merges
        accumulate small files; small files mean many scan tasks AND
        coarse stats (wider [kmin, kmax] per byte), degrading both read
        cost and merge pruning. Only files below half the target
        participate; the rewrite re-range-partitions them so the new
        files regain tight disjoint key ranges. Readers are unaffected
        (snapshot isolation); time travel before the compaction version
        still sees the old files. Note compaction clusters on the KEY —
        on a Z-ordered table, re-run :meth:`optimize_zorder` after heavy
        compaction to restore multi-dimensional clustering (Delta has
        the same interplay).

        :meth:`compact_partitions` scopes the same bin-pack to named
        partition values — Delta's ``OPTIMIZE ... WHERE``."""
        return self._compact(target_rows, None)

    def compact_partitions(self, partitions,
                           target_rows: int = 1_000_000) -> dict:
        """Partition-scoped OPTIMIZE — Delta's ``OPTIMIZE ... WHERE``:
        bin-pack only the named partitions' small files, so a streaming
        ingest compacts TODAY's hot partition on a schedule without
        reading (or even selecting into the rewrite set) the cold ones —
        maintenance cost proportional to the hot data, not the table.
        Same commit/race semantics as :meth:`compact`."""
        meta = self._state()[0]
        pcols = _meta_parts(meta)
        if not pcols:
            raise ValueError(
                f"table at {self.root} is not partitioned — create it "
                f"with partition_by=")
        return self._compact(target_rows, _norm_pvals(partitions,
                                                      len(pcols)))

    def _compact(self, target_rows: int, pvals: set | None) -> dict:
        def attempt(meta, live, base):
            small = [a for a in live.values()
                     if a["rows"] < target_rows // 2
                     and (pvals is None or _pval_tuple(a) in pvals)]
            if len(small) < 2:
                return None, {"files_in": 0, "files_out": 0}
            total = sum(a["rows"] for a in small)
            adds = self._write_files(self._read_files(meta, small), meta,
                                     n_files=max(1, -(-total // target_rows)))
            return [{"op": "compact"}, *adds,
                    *({"remove": {"path": a["path"]}} for a in small)], \
                {"files_in": len(small), "files_out": len(adds)}

        return self._transact(attempt)

    def optimize_zorder(self, cols: list[str],
                        n_files: int | None = None,
                        target_rows: int = 1_000_000) -> dict:
        """OPTIMIZE ZORDER: rewrite ALL live files clustered on the
        Z-order (bit-interleaved) value of ``cols`` — one commit, zero
        row changes (Delta's ``OPTIMIZE ... ZORDER BY``). Each column is
        bucketed into 256 equi-width cells over its table-wide [min,
        max], the 8-bit cells interleave into one Z-value, and files
        range-partition on it — so EVERY listed column gets tight
        per-file [min, max] stats and :meth:`read_stats_range` prunes on
        any of them even when ingest order clustered on none (the
        multi-dimensional answer single-column clustering can't give).

        Each col must carry per-file stats (the merge key or a declared
        ``stats_cols`` entry — otherwise the clustering would never be
        used for pruning) and be numeric/date/timestamp (equi-width
        cells need an arithmetic domain). Trade-off, as in Delta: key
        ranges widen, so single-key merge pruning leans on the bloom
        tier afterwards; correctness is unaffected either way. Skewed
        columns fill cells unevenly (equi-width, not equi-depth) — the
        stats stay exact, pruning is just less selective on the hot
        cells. Readers are unaffected (snapshot isolation); time travel
        before the Z-order version still sees the old layout."""
        if not cols:
            raise ValueError("no columns to zorder on")

        def attempt(meta, live, base):
            declared = [meta["key_col"], *(meta.get("stats_cols") or [])]
            bad = [c for c in cols if c not in declared]
            if bad:
                raise ValueError(
                    f"zorder columns {bad} carry no per-file stats "
                    f"(declare them in create(stats_cols=...)); stats "
                    f"exist for {declared}")
            if not live:
                return None, {"files_in": 0, "files_out": 0}
            df = self._read_files(meta, list(live.values()))
            num = {}
            for c in cols:
                typ = dict(df.dtypes)[c]
                if typ in ("date", "timestamp", "timestamp_ntz"):
                    num[c] = F.col(c).cast("timestamp").cast("double")
                elif typ in ("tinyint", "smallint", "int", "bigint",
                             "float", "double"):
                    num[c] = F.col(c).cast("double")
                else:
                    raise ValueError(
                        f"zorder column '{c}' has type {typ}; equi-width "
                        f"cells need numeric/date/timestamp")
            # one tiny agg for the table-wide per-column bounds
            b = df.agg(*[f(num[c]).alias(f"{w}_{c}")
                         for c in cols for w, f in (("mn", F.min),
                                                    ("mx", F.max))]).first()
            z = F.lit(0).cast("long")
            for i, c in enumerate(cols):
                mn, mx = b[f"mn_{c}"], b[f"mx_{c}"]
                span = (mx - mn) if (mn is not None and mx is not None
                                     and mx > mn) else 1.0
                cell = F.least(
                    F.lit(255),
                    F.floor((num[c] - F.lit(mn if mn is not None else 0.0))
                            / F.lit(span) * 256)).cast("long")
                cell = F.coalesce(cell, F.lit(0))   # NULL → cell 0
                for bit in range(8):
                    z = z.bitwiseOR(F.shiftleft(
                        F.shiftright(cell, bit).bitwiseAND(F.lit(1)),
                        bit * len(cols) + i))
            total = sum(a["rows"] for a in live.values())
            n_out = n_files or max(1, -(-total // target_rows))
            adds = self._write_files(df, meta, n_files=n_out, order_expr=z)
            return [{"op": "zorder"}, *adds,
                    *({"remove": {"path": a["path"]}}
                      for a in live.values())], \
                {"files_in": len(live), "files_out": len(adds)}

        return self._transact(attempt)

    def _referenced_paths(self) -> set[str]:
        """Data files referenced by any commit that could ever be
        visible: normal commits, committed pendings, and UNDECIDED
        pendings (conservative — they may yet commit). Aborted
        pendings' adds are excluded: those versions replay empty at
        every mode, so their files are garbage."""
        ref: set[str] = set()
        for v in self.versions():
            acts = self._read_commit(v)
            if acts and "pending" in acts[0]:
                if self._decision(acts[0]["pending"]["decision"]) \
                        == "aborted":
                    continue
                acts = acts[1:]
            ref.update(a["add"]["path"] for a in acts if "add" in a)
            ref.update(a["cdf"]["path"] for a in acts if "cdf" in a)
            ref.update(a["dv"]["keys"] for a in acts if "dv" in a)
        return ref

    def export_manifest(self, version: int | None = None) -> str:
        """SYMLINK MANIFEST export (Delta's
        ``symlink_format_manifest`` for Presto/Trino/external readers):
        write ``_symlink_format_manifest/manifest.txt`` — one absolute
        data-file path per line for the LIVE file set at ``version`` —
        so any engine that can read a file list + parquet can read a
        consistent table SNAPSHOT without understanding the log.
        Returns the manifest path. Metadata-sized cost (one line per
        live file). Refuses when deletion vectors are attached
        (merge-on-read state is invisible to external readers — run
        :meth:`purge_deletes` first; same restriction as Delta), and
        the manifest must be regenerated after every commit (it is a
        snapshot, not a subscription). Columns appear under PHYSICAL
        names to an external reader — export after renames hands them
        the mapping problem, so prefer exporting tables without active
        mapping (documented trade of the interop seam)."""
        meta, live = self._read_state(version)
        dv = [a["path"] for a in live.values() if a.get("_dvs")]
        if dv:
            raise ValueError(
                f"{len(dv)} live file(s) carry deletion vectors — an "
                f"external reader would resurrect the deleted rows; "
                f"run purge_deletes() first (e.g. {dv[0]})")
        mdir = os.path.join(self.root, "_symlink_format_manifest")
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".manifest-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            for a in sorted(live.values(), key=lambda a: a["path"]):
                f.write(os.path.join(self.data_dir, a["path"]) + "\n")
        final = os.path.join(mdir, "manifest.txt")
        os.replace(tmp, final)               # atomic swap for readers
        return final

    def analyze(self, columns: list[str] | None = None) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS``: one distributed
        pass over the live rows computes table row count plus, per
        column, the non-null count, approximate NDV (HyperLogLog++ via
        ``approx_count_distinct`` — every column in the SAME pass, no
        per-column scans), and min/max (string-serialized). The result
        is committed to the log as a metadata-only ``analyze`` action
        (like Delta, stats live WITH the table, so any reader/planner
        sees them without re-scanning), together with the live byte
        size (filesystem metadata, exact). :meth:`table_stats` reads
        the latest analyze back with a staleness indicator;
        :meth:`advise_broadcast` turns it into the classic CBO
        broadcast-vs-shuffle join-side decision."""
        def attempt(meta, live, base):
            schema = StructType.fromJson(json.loads(meta["schema"]))
            cols = columns or schema.fieldNames()
            unknown = [c for c in cols if c not in schema.fieldNames()]
            if unknown:
                raise ValueError(f"unknown columns {unknown}")
            df = self._read_files(meta, live.values())
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for i, c in enumerate(cols):
                aggs += [F.sum(F.col(c).isNotNull().cast("long"))
                          .alias(f"__nn{i}"),
                         F.approx_count_distinct(c, 0.02)
                          .alias(f"__ndv{i}"),
                         F.min(c).cast("string").alias(f"__min{i}"),
                         F.max(c).cast("string").alias(f"__max{i}")]
            r = df.agg(*aggs).first()
            nbytes = sum(
                os.path.getsize(os.path.join(self.data_dir, a["path"]))
                for a in live.values())
            stats = {"rows": int(r["__rows"]), "bytes": int(nbytes),
                     "as_of_version": base,
                     "columns": {c: {"n_nonnull": int(r[f"__nn{i}"]),
                                     "ndv": int(r[f"__ndv{i}"]),
                                     "min": r[f"__min{i}"],
                                     "max": r[f"__max{i}"]}
                                 for i, c in enumerate(cols)}}
            return [{"op": "analyze", "stats": stats}], stats

        return self._transact(attempt)

    def table_stats(self) -> dict | None:
        """The latest :meth:`analyze` result, or None. Metadata-plane
        (log replay only). Adds ``stale_commits`` — how many row-moving
        commits landed after the analyze — so a planner can decide when
        to re-analyze."""
        vs = self.versions()
        for v in reversed(vs):
            acts = self._read_commit(v)
            op = next((a for a in acts if "op" in a), None)
            if op and op["op"] == "analyze":
                out = dict(op["stats"])
                out["stale_commits"] = sum(
                    1 for w in vs if w > v
                    and any("add" in a or "remove" in a or "dv" in a
                            for a in self._read_commit(w)))
                return out
        return None

    #: stats-column Spark dtypes whose serialized order equals value
    #: order — eligible for metadata min/max (ints/strings are stored
    #: natively; date/timestamp serialize as ISO strings, lexical ==
    #: temporal). float/decimal stats serialize as strings whose lexical
    #: order is NOT numeric order, so they are pushdown-ineligible.
    _PUSHDOWN_TYPES = ("tinyint", "smallint", "int", "bigint", "string",
                       "date", "timestamp", "timestamp_ntz")

    def agg_pushdown(self, col: str | None = None,
                     version: int | None = None) -> dict:
        """METADATA-ONLY AGGREGATE (Delta/Iceberg's metadata-only query
        optimization): answer ``COUNT(*)`` — and ``MIN(col)``/
        ``MAX(col)`` for the key or a declared stats column — from the
        transaction log alone. On a DV-free table this is O(live files)
        log replay with ZERO data read: the per-file ``rows`` /
        ``kmin,kmax`` / ``cstats`` every write already maintains fold
        exactly. Files carrying DELETION VECTORS are the one inexact
        case (their stats count/bound rows the DVs have hidden), so
        ONLY those files are read — with DVs applied — and folded in;
        a 100 TB table with a handful of DV'd files still answers in
        file-metadata time.

        ``col`` eligibility: the merge key (always) or a declared
        ``stats_cols`` member whose dtype's serialized order equals its
        value order (ints, strings, date/timestamp ISO — NOT float/
        decimal, whose stringified lexical order diverges; those raise
        rather than silently mis-answer). MIN/MAX ignore NULLs (the
        per-file stats already do); an all-NULL column returns None.

        Returns ``{"n_rows", "min", "max", "files_metadata",
        "files_read"}`` — min/max in the log's serialized domain (ISO
        strings for date/timestamp), matching :meth:`read_where` stats
        predicates. Pinned in tests/test_txlog.py."""
        meta, live = self._read_state(version)
        key = meta["key_col"]

        def col_dtype(c: str) -> str:
            schema = StructType.fromJson(json.loads(meta["schema"]))
            return {f.name: f.dataType.simpleString()
                    for f in schema.fields}[c]

        mcol = None                          # metadata accessor for col
        if col is not None:
            scols = meta.get("stats_cols") or []
            dtype = col_dtype(col)
            if dtype not in self._PUSHDOWN_TYPES:
                raise ValueError(
                    f"agg_pushdown: dtype {dtype} of '{col}' serializes "
                    f"out of value order — read the data instead")
            if col == key:
                def mcol(a):
                    return a["kmin"], a["kmax"]
            elif col in scols:
                def mcol(a):
                    return _cbounds(a, meta, col)  # None → read the file
            else:
                raise ValueError(
                    f"agg_pushdown: '{col}' is neither the key nor a "
                    f"declared stats column of {self.root} — no "
                    f"per-file bounds to fold")
        clean, dirty = [], []
        for a in live.values():
            if a.get("_dvs") or (mcol is not None and mcol(a) is None):
                dirty.append(a)
            else:
                clean.append(a)
        n = sum(a["rows"] for a in clean)
        lo = hi = None
        if mcol is not None:
            los = [m[0] for a in clean for m in (mcol(a),)
                   if m[0] is not None]
            his = [m[1] for a in clean for m in (mcol(a),)
                   if m[1] is not None]
            lo = min(los) if los else None
            hi = max(his) if his else None
        if dirty:
            exprs = [F.count(F.lit(1)).alias("__n")]
            if col is not None:
                c = F.col(col)
                if col_dtype(col) not in ("tinyint", "smallint", "int",
                                          "bigint", "string"):
                    c = c.cast("string")     # match the log's domain
                exprs += [F.min(c).alias("__lo"), F.max(c).alias("__hi")]
            r = self._read_files(meta, dirty).agg(*exprs).first()
            n += r["__n"]
            if col is not None:
                lo = min((x for x in (lo, r["__lo"]) if x is not None),
                         default=None)
                hi = max((x for x in (hi, r["__hi"]) if x is not None),
                         default=None)
        out = {"n_rows": n, "files_metadata": len(clean),
               "files_read": len(dirty)}
        if col is not None:
            out["min"], out["max"] = lo, hi
        return out

    def advise_broadcast(self,
                         threshold_bytes: int = 10 * 1024 * 1024) -> dict:
        """CBO join-side advice from the analyzed stats: broadcast this
        table iff its live byte size is at or under ``threshold_bytes``
        (Spark's ``autoBroadcastJoinThreshold`` contract, default 10 MB).
        Requires a prior :meth:`analyze`; refuses (rather than guesses)
        without one."""
        st = self.table_stats()
        if st is None:
            raise ValueError(
                f"no analyze stats at {self.root} — run analyze() first")
        return {"broadcast": st["bytes"] <= threshold_bytes,
                "bytes": st["bytes"], "rows": st["rows"],
                "as_of_version": st["as_of_version"],
                "stale_commits": st["stale_commits"]}

    def vacuum_uncommitted(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO commit (crashed or
        lost-race transactions).

        A concurrent writer's files are final-named in ``data_dir``
        BEFORE its log commit (``_write_files`` renames them out of the
        dot-prefixed staging dir, then the stats job + commit run), so
        an unreferenced file is NOT proof of a dead transaction — it may
        belong to an in-flight writer about to commit. ``older_than_s``
        is the safety bound: only files whose mtime is older than the
        maximum plausible transaction duration are reclaimed. Pass 0
        ONLY when no concurrent writer can exist (maintenance window).

        Files added by an ABORTED cross-table pending are counted as
        unreferenced (the version replays empty at every mode) and
        reclaimed past the age bound; undecided pendings' files stay
        referenced until the decision."""
        referenced = self._referenced_paths()
        cutoff = time.time() - older_than_s
        removed = []
        for name in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, name)
            if name.startswith("."):
                continue
            if name not in referenced and os.path.getmtime(p) <= cutoff:
                os.unlink(p)
                removed.append(name)
        return removed


    def vacuum(self, retain_versions: int = 10,
               retain_hours: float | None = None,
               dry_run: bool = False) -> dict:
        """Delta-style VACUUM with VERSION-based retention: physically
        delete data files that are live in NO retained version. The
        newest ``retain_versions`` commits stay fully time-travelable; a
        file is reclaimable only if it was added AND removed before that
        horizon (needed = live set AT the horizon ∪ every file added
        after it — both still reachable by a retained snapshot).
        Deterministic and clock-free, unlike Delta's hour-based
        retention, so tests can pin it; the operational contract is the
        same: readers must not time-travel (or read changes) past the
        horizon, and the caller picks a retention covering the
        longest-running reader. Change-feed files follow the same
        retention: commits after the horizon keep theirs, older ones
        are reclaimed. Returns {"removed": n, "horizon": v}.

        ``retain_hours`` is Delta's own spelling (``VACUUM ... RETAIN n
        HOURS``): the horizon becomes the OLDEST commit whose wall-clock
        stamp is within the window (falling back to the commit file's
        mtime for pre-stamp logs, like ``version_at``) — every version
        a reader started within the window could still be reading stays
        time-travelable. When both are given the more conservative
        (older) horizon wins. ``dry_run=True`` deletes nothing and
        returns the reclaimable file list (Delta's ``VACUUM ... DRY
        RUN``) — the operator's look-before-you-leap."""
        vs = self.versions()
        horizon = max(vs[-1] - retain_versions + 1, vs[0])
        if retain_hours is not None:
            cutoff = time.time() - retain_hours * 3600.0
            h_time = vs[-1]
            for v in vs:                 # oldest commit inside the window
                acts = self._read_commit(v)
                stamp = next((a["ts"] for a in acts
                              if "op" in a and "ts" in a), None)
                if stamp is None:
                    stamp = os.path.getmtime(
                        os.path.join(self.log_dir, f"{v:08d}.json"))
                if stamp >= cutoff:
                    h_time = v
                    break
            horizon = min(horizon, h_time)
        _, live_h = self._state(horizon)
        needed = set(live_h)
        needed.update(dv for a in live_h.values()
                      for dv in a.get("_dvs", []))
        for v in vs:
            if v > horizon:
                for a in self._read_commit(v):
                    if "add" in a:
                        needed.add(a["add"]["path"])
                    elif "cdf" in a:
                        needed.add(a["cdf"]["path"])
                    elif "dv" in a:
                        needed.add(a["dv"]["keys"])
        referenced = self._referenced_paths()
        doomed = sorted(
            name for name in referenced - needed
            if os.path.exists(os.path.join(self.data_dir, name)))
        if dry_run:
            return {"removed": 0, "horizon": horizon, "would_remove":
                    doomed}
        for name in doomed:
            os.unlink(os.path.join(self.data_dir, name))
        return {"removed": len(doomed), "horizon": horizon}


class TxCatalog:
    """Multi-table METASTORE over :class:`TxTable` — the catalog slice a
    real format pairs with its table log (VERDICT gap: "multi-table
    catalog/metastore"). One catalog root; each table is a full TxTable
    at ``<root>/tables/<name>``; the catalog keeps its OWN ordered
    commit log (``<root>/_catalog/<version>.json``, same ``os.link``
    atomic-create versioning) of ``create_table`` / ``drop_table``
    actions, so listings are consistent snapshots and two writers cannot
    both claim a name: the name race is settled by the TABLE's own
    version-0 commit (both writers target the same path; exactly one
    ``os.link`` wins), and the catalog entry follows.

    CROSS-TABLE TRANSACTIONS: :meth:`begin` returns a
    :class:`CatalogTxn` whose table handles stage writes as PENDING
    commits that all become visible at the single atomic creation of
    the transaction's decision file (see the module docstring for the
    protocol — Iceberg-REST/Nessie-style catalog-coordinated commit).
    Committed transactions also append a ``publish`` entry pinning
    ``{table: version}``, so :meth:`snapshot_set` serves CONSISTENT
    multi-table cuts and any past catalog version time-travels as a
    unit. Tables only ever written outside transactions carry no pin
    and fall back to their latest version in those reads.

    A dropped name's directory survives for audit until ``purge=True``
    — recreating a dropped table requires the purge.

    Listing cost follows the same O(recent) discipline as the table log:
    every ``checkpoint_interval`` catalog commits the writer materializes
    the live {name: create-action} map into
    ``_catalog/<version>.checkpoint.json``; ``_entries`` starts from the
    newest checkpoint and replays only the commits after it.
    """

    _NAME_OK = re.compile(r"^[A-Za-z0-9_]{1,128}$")

    def __init__(self, spark: SparkSession, root: str,
                 checkpoint_interval: int = 10):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "_catalog")
        self.tables_dir = os.path.join(root, "tables")
        self.txn_dir = os.path.join(self.log_dir, "txns")
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.tables_dir, exist_ok=True)
        os.makedirs(self.txn_dir, exist_ok=True)

    def _versions(self) -> list[int]:
        return _list_commits(self.log_dir)

    def _ck_versions(self) -> list[int]:
        return _list_checkpoints(self.log_dir)

    def _commit(self, action: dict, v: int) -> bool:
        return _put_if_absent(os.path.join(self.log_dir, f"{v:08d}.json"),
                              json.dumps(action) + "\n")

    def _transact(self, attempt) -> dict[str, dict]:
        """THE catalog's optimistic-commit loop: each attempt takes the
        newest catalog version as its BASE and calls ``attempt(entries)``
        with the live tables at it; the returned action publishes at
        exactly ``base + 1``. A lost race re-runs the attempt at the new
        head, so every name check (exists, already exists) holds at the
        version the commit lands on. Returns the entries of that base."""
        while True:
            base = max(self._versions(), default=-1)
            entries = self._entries(base)
            if self._commit(attempt(entries), base + 1):
                self._maybe_checkpoint(base + 1)
                return entries

    def _replay(self, upto: int | None = None) \
            -> tuple[dict[str, dict], dict[str, int], set[str]]:
        """``({name: create-action} of the LIVE tables, {table: pinned
        version}, {published txn ids})`` at a catalog version in ONE
        pass: the newest usable checkpoint at-or-before it plus the
        commits after it (O(recent), mirroring ``TxTable._replay``).
        The pins are the consistent-cut watermark maintained by
        committed cross-table transactions' ``publish`` entries;
        dropping a table clears its pin."""
        start, snap = _newest_checkpoint(self.log_dir, upto)
        live = {a["name"]: a for a in snap.get("live", [])}
        pins: dict[str, int] = dict(snap.get("pins", {}))
        published: set[str] = set(snap.get("published", []))
        for v in self._versions():
            if v <= start or (upto is not None and v > upto):
                continue
            with open(os.path.join(self.log_dir, f"{v:08d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if a["op"] == "create_table":
                        live[a["name"]] = a
                    elif a["op"] == "drop_table":
                        live.pop(a["name"], None)
                        pins.pop(a["name"], None)
                    elif a["op"] == "rename_table":
                        ent = live.pop(a["from"], None)
                        if ent is not None:
                            live[a["to"]] = {**ent, "name": a["to"],
                                             "dir": ent.get("dir",
                                                            a["from"])}
                        if a["from"] in pins:
                            pins[a["to"]] = pins.pop(a["from"])
                    elif a["op"] == "publish":
                        published.add(a["txn"])
                        pins.update(a["tables"])
        return live, pins, published

    def _entries(self, upto: int | None = None) -> dict[str, dict]:
        return self._replay(upto)[0]

    def _pins(self, upto: int | None = None) \
            -> tuple[dict[str, int], set[str]]:
        return self._replay(upto)[1:]

    def _maybe_checkpoint(self, v: int) -> None:
        """Materialize the live table map (and transaction pins) beside
        commit ``v`` every ``checkpoint_interval`` commits
        (deterministic content per version, so a concurrent
        double-write is harmless)."""
        if v == 0 or v % self.checkpoint_interval != 0:
            return
        live, pins, published = self._replay(v)
        _put_if_absent(
            os.path.join(self.log_dir, f"{v:08d}.checkpoint.json"),
            json.dumps({"version": v, "live": list(live.values()),
                        "pins": pins, "published": sorted(published)}))

    def list_tables(self) -> list[str]:
        return sorted(self._entries())

    def create_table(self, name: str, df: DataFrame, key_col: str,
                     n_files: int | None = None,
                     change_feed: bool = False) -> TxTable:
        if not self._NAME_OK.match(name):
            raise ValueError(f"bad table name {name!r}")
        entries = self._entries()
        if name in entries:
            raise ValueError(f"table {name!r} already exists")
        dirname = name
        path = os.path.join(self.tables_dir, dirname)
        if os.path.exists(os.path.join(path, "_txlog")) and \
                os.listdir(os.path.join(path, "_txlog")):
            # the natural directory is occupied — by an unpurged drop,
            # or by a live table renamed AWAY from this name (its
            # storage keeps the original dir). Refuse only the former;
            # a renamed-away name gets a fresh unique directory
            # recorded in the create action.
            owners = {e.get("dir", n) for n, e in entries.items()}
            if dirname not in owners:
                raise ValueError(
                    f"table {name!r} was dropped but not purged — "
                    "drop_table(name, purge=True) before recreating")
            dirname = f"{name}-{uuid.uuid4().hex[:8]}"
            path = os.path.join(self.tables_dir, dirname)
        t = TxTable(self.spark, path)
        t.create(df, key_col, n_files,
                 change_feed=change_feed)           # settles name races

        def attempt(entries):
            if name in entries:
                raise ValueError(f"table {name!r} already exists")
            return {"op": "create_table", "name": name, "key_col": key_col,
                    **({"dir": dirname} if dirname != name else {})}

        self._transact(attempt)
        return t

    def table(self, name: str) -> TxTable:
        entries = self._entries()
        if name not in entries:
            raise KeyError(f"no such table {name!r}")
        return TxTable(self.spark, os.path.join(
            self.tables_dir, entries[name].get("dir", name)))

    def rename_table(self, old: str, new: str) -> None:
        """METADATA-ONLY rename: one catalog commit remaps the name to
        the existing storage directory — no file moves, O(1) at any
        table size (the metastore rename every warehouse needs). The
        table's own log, history, and any transaction-published pins
        follow the new name; the old name frees immediately."""
        if not self._NAME_OK.match(new):
            raise ValueError(f"bad table name {new!r}")

        def attempt(entries):
            if old not in entries:
                raise KeyError(f"no such table {old!r}")
            if new in entries:
                raise ValueError(f"table {new!r} already exists")
            return {"op": "rename_table", "from": old, "to": new}

        self._transact(attempt)

    def drop_table(self, name: str, purge: bool = False) -> None:
        """Drop ``name`` from the catalog; ``purge=True`` also removes
        the directory of the entry the commit actually dropped (a
        renamed table keeps its original directory)."""

        def attempt(entries):
            if name not in entries:
                raise KeyError(f"no such table {name!r}")
            return {"op": "drop_table", "name": name}

        entries = self._transact(attempt)
        if purge:
            shutil.rmtree(os.path.join(self.tables_dir,
                                       entries[name].get("dir", name)),
                          ignore_errors=True)

    # ----------------------------------------- cross-table transactions

    def begin(self, grace_s: float | None = None) -> "CatalogTxn":
        """Start a cross-table transaction; use as a context manager
        (commit on clean exit, abort on exception) or call
        :meth:`CatalogTxn.commit` / :meth:`CatalogTxn.abort` directly.
        ``grace_s`` overrides each handle's presumed-abort window."""
        return CatalogTxn(self, grace_s)

    def _publish(self, txn_id: str, tables: dict[str, int]) -> None:
        """Append the pin entry for a COMMITTED transaction (the
        decision file already made it durable — this only advances the
        catalog's consistent-cut watermark)."""
        self._transact(lambda entries: {"op": "publish", "txn": txn_id,
                                        "tables": tables})

    def read(self, name: str, catalog_version: int | None = None) \
            -> DataFrame:
        """Read ``name`` through the catalog's transactional view: at
        its version pinned by the last published transaction (at-or-
        before ``catalog_version`` if given), falling back to the
        table's latest version if it was never transaction-published."""
        pins, _ = self._pins(catalog_version)
        t = self.table(name)
        return t.snapshot(pins[name]) if name in pins else t.snapshot()

    def snapshot_set(self, names: list[str] | None = None,
                     catalog_version: int | None = None) \
            -> dict[str, DataFrame]:
        """CONSISTENT multi-table snapshot: every transaction-published
        table resolves at the version pinned by the same catalog state,
        so a reader never observes half of a cross-table transaction —
        the read-side guarantee the publish entries exist for. Pass a
        past ``catalog_version`` to time-travel the whole set as a
        unit."""
        pins, _ = self._pins(catalog_version)
        out: dict[str, DataFrame] = {}
        for n in (names if names is not None else self.list_tables()):
            t = self.table(n)
            out[n] = t.snapshot(pins[n]) if n in pins else t.snapshot()
        return out

    def recover(self) -> dict:
        """Roll FORWARD transactions that decided ``committed`` but
        crashed before their ``publish`` entry landed: their table
        state is already durable (the decision file is the commit
        point), only the catalog's pin watermark lags. Idempotent —
        already-published ids are skipped. Aborted/undecided decisions
        need no recovery (presumed-abort handles the latter)."""
        _, published = self._pins()
        fixed = []
        for f in sorted(os.listdir(self.txn_dir)):
            if not f.endswith(".json") or ".tmp-" in f:
                continue
            with open(os.path.join(self.txn_dir, f)) as fh:
                d = json.load(fh)
            tid = f[:-5]
            if d.get("status") == "committed" and tid not in published \
                    and d.get("tables"):
                self._publish(tid, d["tables"])
                fixed.append(tid)
        return {"republished": fixed}


class CatalogTxn:
    """One cross-table transaction (see module docstring): writes made
    through :meth:`table` handles stage as pending commits in each
    table's own log; :meth:`commit` atomically creates the decision
    file — the single commit point for every staged table — then
    publishes the ``{table: version}`` pins to the catalog log.

    Concurrency: two transactions touching the SAME table serialize at
    stage time (the second's writer raises :class:`TxnInDoubtError`
    while the first is undecided); transactions on disjoint tables run
    fully concurrently. A transaction that stalls past the grace
    period can be presumed-aborted by any other writer — its
    :meth:`commit` then raises :class:`TxnAbortedError` and the caller
    re-runs it. Table CREATION inside a transaction is out of scope
    (create through the catalog, then write transactionally)."""

    def __init__(self, cat: TxCatalog, grace_s: float | None = None):
        self.cat = cat
        self.id = uuid.uuid4().hex
        self.decision = os.path.join(cat.txn_dir, f"{self.id}.json")
        self.grace_s = grace_s
        self._handles: dict[str, TxTable] = {}
        self._done = False

    def table(self, name: str) -> TxTable:
        """A write handle for ``name``: same TxTable API, but commits
        stage under this transaction and reads see the transaction's
        own staged writes (read-your-writes)."""
        if self._done:
            raise RuntimeError(f"txn {self.id} already finished")
        if name not in self._handles:
            entries = self.cat._entries()
            if name not in entries:
                raise KeyError(f"no such table {name!r}")
            t = TxTable(self.cat.spark,
                        os.path.join(self.cat.tables_dir,
                                     entries[name].get("dir", name)))
            if self.grace_s is not None:
                t.txn_grace_s = self.grace_s
            t._txn_ref = {"txn": self.id, "decision": self.decision}
            t._self_txn = self.id
            self._handles[name] = t
        return self._handles[name]

    def staged(self) -> dict[str, int]:
        """{table: last staged version} so far."""
        return {n: h._last_commit_version
                for n, h in self._handles.items()
                if h._last_commit_version is not None}

    def commit(self) -> dict:
        """Atomically commit every staged table (first decision-file
        create wins; raises :class:`TxnAbortedError` if the
        transaction was already presumed- or explicitly aborted), then
        publish the catalog pins. The staged map rides in the decision
        file so :meth:`TxCatalog.recover` can re-publish after a crash
        between the two steps."""
        if self._done:
            raise RuntimeError(f"txn {self.id} already finished")
        tables = self.staged()
        self._done = True
        status = _decide(self.decision, "committed",
                         extra={"tables": tables})
        if status != "committed":
            raise TxnAbortedError(
                f"txn {self.id} was aborted before commit "
                f"(explicit abort, or presumed-abort past the grace "
                f"window); re-run it")
        self.cat._publish(self.id, tables)
        return {"txn": self.id, "tables": tables}

    def abort(self) -> None:
        """Void every staged commit (idempotent; loses to an earlier
        concurrent commit decision, in which case the txn stands)."""
        self._done = True
        _decide(self.decision, "aborted")

    def __enter__(self) -> "CatalogTxn":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.abort()
