"""Tx-table upsert/lookup mix over one generated day of sales lines.

``TxTable.create`` loads the day keyed on ``row_id`` with ``order_date``
stats and a ``customer_name`` bloom index. Then each cycle commits one
``merge_upsert`` of about 1,000 rows (80% updates skewed toward the newest
keys, 20% inserts) and follows it with two pruned reads: a ``read_keys``
point lookup and, alternately, a ``read_stats_range`` date band or a
``read_col_in`` bloom probe. A Python model of the table gives the exact
key set every read must return and the final snapshot's count and
checksum.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from statistics import fmean, median

from perfbench import gen
from perfbench.trace import Tracer, tree_bytes

SCHEMA = ("row_id long, order_id long, order_date string, "
          "customer_name string, product_name string, city string, "
          "quantity int, sales_cents long")
COMMIT_ROWS = 1000
UPDATE_SHARE = 0.8
HOT_KEYS = 800           # mean distance of an updated key from the newest
HOT_WINDOW = 3000        # updates never reach further back than this
BAND_DAYS = 7
# untimed cycles on the table before the timed ones: the JIT is still
# cutting commit latency by a third over the first ten commits
WARM_CYCLES = 3
# the log writes a checkpoint every 10 commits; the tenth commit is the
# seventh timed one
MIN_CYCLES = 8
KINDS = ("read_stats_range", "read_col_in")   # alternate after read_keys
WARM_ROWS = 2000         # at least the updates of one batch


def table_rows(day: gen.Day) -> list[tuple]:
    return [(ln.row_id, ln.order_id, ln.order_date.isoformat(), ln.customer,
             ln.product, ln.city, ln.quantity, ln.sales_cents)
            for ln in day.lines]


class Model:
    """The table as a dict ``row_id -> row`` plus the batch generator."""

    def __init__(self, rows: list[tuple], seed: int):
        self.rows = {r[0]: r for r in rows}
        self.rng = random.Random(seed)
        self.customers = sorted({r[3] for r in rows})
        self.next_id = max(self.rows) + 1

    def batch(self) -> list[tuple]:
        """The next upsert batch (applied to the model as well)."""
        rng, keys = self.rng, sorted(self.rows)
        n_upd = int(COMMIT_ROWS * UPDATE_SHARE)
        picked: set[int] = set()
        window = min(HOT_WINDOW, len(keys))
        while len(picked) < n_upd:   # exponential skew toward the newest
            rank = int(rng.expovariate(1 / HOT_KEYS))
            if rank < window:
                picked.add(keys[-1 - rank])
        out = []
        for k in sorted(picked):
            r = self.rows[k]
            out.append((*r[:6], r[6] + 1, r[7] + rng.randint(1, 999)))
        for _ in range(COMMIT_ROWS - n_upd):
            day = gen.LAST_DATE - dt.timedelta(rng.randrange(30))
            out.append((self.next_id, 900000 + self.next_id, day.isoformat(),
                        rng.choice(self.customers), "Inserted Product",
                        "City 0000", rng.randint(1, 50),
                        rng.randint(100, 99999)))
            self.next_id += 1
        self.rows.update((r[0], r) for r in out)
        return out

    def read(self, kind: str) -> tuple[tuple, set]:
        """Arguments of a read of ``kind`` and the key set it must return."""
        rng = self.rng
        if kind == "read_keys":
            k = rng.choice(sorted(self.rows))
            return (k, k), {k}
        if kind == "read_stats_range":
            lo = gen.FIRST_DATE + dt.timedelta(
                rng.randrange((gen.LAST_DATE - gen.FIRST_DATE).days))
            lo_s = lo.isoformat()
            hi_s = (lo + dt.timedelta(BAND_DAYS - 1)).isoformat()
            return (lo_s, hi_s), {k for k, r in self.rows.items()
                                  if lo_s <= r[2] <= hi_s}
        names = rng.sample(self.customers, 2)
        return (names,), {k for k, r in self.rows.items() if r[3] in names}

    def checksum(self) -> tuple[int, int, int]:
        return (len(self.rows), sum(r[7] for r in self.rows.values()),
                sum(r[0] * r[6] for r in self.rows.values()))


def pair_means(read_s: list[float]) -> list[float]:
    """Mean read latency of each pair of cycles. A pair holds all three
    read kinds, whose costs differ several-fold, in fixed proportion."""
    return [fmean(read_s[i:i + 4])      # two cycles, two reads each
            for i in range(0, len(read_s) - 3, 4)]


def check_read(got: list, expected: set) -> bool:
    """A read passes when it returns exactly the model's keys, once each."""
    return len(got) == len(expected) and set(got) == expected


def snapshot_checksum(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.sum("sales_cents"),
               F.sum(F.col("row_id") * F.col("quantity"))).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def _read(table, kind: str, args):
    if kind == "read_keys":
        return table.read_keys(*args)
    if kind == "read_stats_range":
        return table.read_stats_range(*args)
    return table.read_col_in("customer_name", *args)


def _log_state(table) -> tuple[int, int]:
    """(newest commit version, commits to replay after the newest
    checkpoint) from the log directory listing."""
    names = os.listdir(table.log_dir)
    versions = [int(f[:8]) for f in names
                if len(f) == 13 and f.endswith(".json") and f[:8].isdigit()]
    cks = [int(f[:8]) for f in names if f.endswith(".checkpoint.json")]
    top = max(versions)
    return top, top - (max(cks) if cks else -1)


def _create(spark, root: str, rows: list[tuple], n_files: int):
    from walmart_project_etl_spark.sources.txlog import TxTable

    table = TxTable(spark, root)
    table.create(spark.createDataFrame(rows, SCHEMA), "row_id",
                 n_files=n_files, stats_cols=["order_date"],
                 bloom_cols=["customer_name"])
    return table


def warm_up(spark, work: str, day: gen.Day) -> None:
    """A throwaway create, commit and one read of each kind on a small
    table, so that the loads do not pay for the JVM's class loading and
    first JIT."""
    rows = table_rows(day)[:WARM_ROWS]
    root = os.path.join(work, "warm-up")
    table = _create(spark, root, rows, 2)
    model = Model(rows, 0)
    table.merge_upsert(spark.createDataFrame(model.batch(), SCHEMA))
    for kind in ("read_keys",) + KINDS:
        _read(table, kind, model.read(kind)[0]).collect()
    shutil.rmtree(root)


def run(spark, work: str, day: gen.Day, seconds: float, tracer,
        seed: int) -> dict:
    """Create the table and run ``WARM_CYCLES`` untimed cycles on it (the
    set-up, which ends at ``ready_at``), then timed commit/read cycles
    until ``seconds`` have passed (at least ``MIN_CYCLES``)."""
    untraced = Tracer(False)
    rows = table_rows(day)
    model = Model(rows, seed)
    root = os.path.join(work, "txtable")

    ops = failed = 0
    failures: list[str] = []
    ops += 1
    tracer.begin("txlog.create", op=ops)
    table = _create(spark, root, rows, 8)
    tracer.end()

    commit_s, read_s, ck_s, prune, skip, replay = [], [], [], [], [], []
    upserted = 0

    def cycle(i: int, timed: bool) -> None:
        nonlocal ops, failed, upserted
        tr = tracer if timed else untraced
        batch = model.batch()
        df = spark.createDataFrame(batch, SCHEMA)
        ops += 1
        tr.begin("txlog.merge_upsert", op=ops)
        t0 = time.time()
        try:
            res, err = table.merge_upsert(df), None
        except Exception as e:   # noqa: BLE001 - a failed op is counted
            res, err = {}, f"{type(e).__name__}: {e}"
        dt_s = time.time() - t0
        tr.end(files_scanned=res.get("files_scanned", 0),
               files_untouched=res.get("files_untouched", 0))
        if err is not None:
            failed += 1
            failures.append(f"merge_upsert {i}: {err}")
        upserted += len(batch)
        if timed:
            commit_s.append(dt_s)
        if tr.enabled:
            top, n_replay = _log_state(table)
            if os.path.exists(os.path.join(
                    table.log_dir, f"{top:08d}.checkpoint.json")):
                ck_s.append(dt_s)
            if res.get("files_scanned"):
                prune.append((res["files_untouched"], res["files_scanned"]))
            replay.append(n_replay)
        for kind in ("read_keys", KINDS[i % 2]):
            args, want = model.read(kind)
            ops += 1
            tr.begin(f"txlog.{kind}", op=ops)
            t0 = time.time()
            try:
                df = _read(table, kind, args)
                got, err = [r[0] for r in df.select("row_id").collect()], None
            except Exception as e:   # noqa: BLE001
                df, got, err = None, [], f"{type(e).__name__}: {e}"
            dt_s = time.time() - t0
            tr.end()
            if err is None and not check_read(got, want):
                err = f"returned {len(got)} keys, expected {len(want)}"
            if err is not None:
                failed += 1
                failures.append(f"{kind} {i}: {err}")
            if timed:
                read_s.append(dt_s)
            if tr.enabled and df is not None:
                live = len(table.snapshot().inputFiles())
                skip.append(1 - len(df.inputFiles()) / max(live, 1))
                replay.append(_log_state(table)[1])

    for n in range(1, WARM_CYCLES + 1):
        cycle(n, timed=False)
    ready_at = start = time.time()
    while n < WARM_CYCLES + MIN_CYCLES or time.time() - start < seconds:
        n += 1
        cycle(n, timed=True)

    ops += 1
    try:
        ok = snapshot_checksum(table.snapshot()) == model.checksum()
        err = None if ok else "final snapshot count/checksum mismatch"
    except Exception as e:   # noqa: BLE001
        err = f"{type(e).__name__}: {e}"
    if err is not None:
        failed += 1
        failures.append(f"snapshot: {err}")

    out = {
        "attempted": ops, "failed": failed, "failures": failures,
        "ready_at": ready_at,
        "write_s": median(commit_s),
        "read_s": median(pair_means(read_s)),
        "bytes_written_per_row": tree_bytes(root) / (len(rows) + upserted),
    }
    if tracer.enabled:
        out.update(
            prune_ratio=(sum(u for u, _ in prune)
                         / max(1, sum(s for _, s in prune))),
            checkpoint_commit_s=median(ck_s) if ck_s else 0.0,
            skip_ratio=median(skip) if skip else 0.0,
            replay_commits=median(replay) if replay else 0.0)
    return out
