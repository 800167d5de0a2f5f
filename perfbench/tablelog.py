"""The ``offres_table_log`` workload: a seeded stream of TxTable ops over
two orders-shaped keyed tables, checked against an in-process model.

* ``offres`` takes copy-on-write appends and merges only. A CDC consumer drains its
  streamed change feed once per pass and reuses one stream checkpoint
  for the whole run.
* ``offres_mor`` takes deletion-vector and merge-on-read writes, is read
  through them, and is folded by an OPTIMIZE at the end of every pass.

One pass, the same ops every pass (the seed orders the writes and picks
their keys and values):

    offres      append, merge                       (copy-on-write)
    offres_mor  delete, update                      (deletion vectors)
    offres_mor  merge                               (merge-on-read)
    offres      read at an earlier version          (time travel)
    offres_mor  read latest                         (resolves vectors and deletes)
    offres_mor  batch change feed over its last FEED_COMMITS commits
    offres      CDC drain                           (availableNow)
    offres_mor  optimize                            (folds vectors and deletes)
    both        checkpoint

Splitting the tables is what keeps the stream inside txlog's documented
contracts without restarting it: copy-on-write ops refuse while
merge-on-read deletes or vectors are pending, a vector refuses over
pending equality deletes (so vectors land before the merge-on-read
upsert), and a change feed refuses any range that spans an OPTIMIZE
which folds deletes or vectors (``offres`` never has any to fold, and
the batch feed on ``offres_mor`` stays inside one pass).

Every read, feed and drain result is compared with the model outside
the timed region; a mismatch counts the op as failed.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

N_BASE = 2_000
FEED_COMMITS = 1  # commits one batch change-feed read covers
COLS = ["k", "custkey", "status", "price", "priority"]
CDF_COLS = COLS + ["_change_op", "_change_version"]
SCHEMA = "k long, custkey long, status string, price double, priority string"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _diff(old: dict, new: dict, version: int) -> list[tuple]:
    """The keyed change rows a commit from ``old`` to ``new`` must feed."""
    out = [(k, *old[k][1:], "delete", version) for k in old.keys() - new.keys()]
    out += [(k, *new[k][1:], "insert", version) for k in new.keys() - old.keys()]
    for k in old.keys() & new.keys():
        if old[k] != new[k]:
            out.append((k, *old[k][1:], "update_preimage", version))
            out.append((k, *new[k][1:], "update_postimage", version))
    return out


class Modeled:
    """One table plus its model: the expected snapshot at every version."""

    def __init__(self, spark, path: str, base: dict):
        from data_analyse_marche_emploi_spark.sources.txlog import TxTable

        self.path = path
        self.t = TxTable.create(spark, path, _df(spark, base.values()))
        self.hist = [dict(base)]
        self.changed: dict[int, int] = {}  # keys each version changed
        self.version_pass: dict[int, int] = {}  # pass that wrote each version
        self.fold_at = 0  # newest version a change feed may not span

    @property
    def model(self) -> dict:
        return self.hist[-1]

    def commit(self, version: int, new: dict, pass_no: int) -> None:
        """Record the model state a write produced at ``version``."""
        if version == len(self.hist) - 1:  # a no-op burns no version
            return
        if version != len(self.hist):
            raise AssertionError(f"version {version}, model at {len(self.hist)}")
        old = self.model
        self.changed[version] = len(old.keys() ^ new.keys()) + sum(
            old[k] != new[k] for k in old.keys() & new.keys()
        )
        self.hist.append(new)
        self.version_pass[version] = pass_no

    def changes(self, lo: int, hi: int) -> list[tuple]:
        return sorted(
            r for v in range(lo + 1, hi + 1)
            for r in _diff(self.hist[v - 1], self.hist[v], v)
        )


def _df(spark, rows):
    return spark.createDataFrame(sorted(rows), SCHEMA)


def _snapshot(df) -> dict:
    return {r[0]: tuple(r) for r in df.select(*COLS).collect()}


class TableLog:
    """Owns the tables, their models and the op stream of one run."""

    def __init__(self, spark, root: str, seed: int, tracer):
        from data_analyse_marche_emploi_spark.sources.txlog import (
            register_txlog_source,
        )

        self.spark = spark
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.pass_no = 0
        self.next_key = N_BASE
        register_txlog_source(spark)
        base = range(N_BASE)
        self.cow = Modeled(spark, os.path.join(root, "offres"),
                           self._rows(base, "s0"))
        self.mor = Modeled(spark, os.path.join(root, "offres_mor"),
                           self._rows(base, "s0"))
        self.drained_to = 0  # last version of `offres` the stream consumed
        self.checkpoint_dir = os.path.join(root, "cdc_checkpoint")

    @property
    def tables(self) -> list[Modeled]:
        return [self.cow, self.mor]

    # -- helpers --------------------------------------------------------
    def _rows(self, keys, tag) -> dict:
        r = self.rng
        return {
            k: (k, r.randrange(15_000), tag, round(r.uniform(1_000, 500_000), 2),
                r.choice(PRIORITIES))
            for k in keys
        }

    def _new_keys(self, n: int) -> range:
        self.next_key += n
        return range(self.next_key - n, self.next_key)

    def _pick(self, tab: Modeled, n: int) -> list[int]:
        return self.rng.sample(sorted(tab.model), n)

    def _write(self, tab: Modeled, run, new: dict):
        return "write", run, lambda v: tab.commit(v, new, self.pass_no)

    # -- ops: each returns (kind, run, check); only run is timed ---------
    def op_append(self):
        rows = self._rows(self._new_keys(self.rng.randint(20, 60)), "a")
        df = _df(self.spark, rows.values())
        return self._write(
            self.cow, lambda: self.cow.t.append(df), {**self.cow.model, **rows}
        )

    def _merge(self, tab: Modeled, mode: str):
        keys = self._pick(tab, 20) + list(self._new_keys(10))
        rows = self._rows(keys, f"m{self.pass_no}")
        df = _df(self.spark, rows.values())
        return self._write(
            tab, lambda: tab.t.merge_upsert(df, "k", mode=mode),
            {**tab.model, **rows},
        )

    def op_merge_cow(self):
        return self._merge(self.cow, "cow")

    def op_merge_mor(self):
        return self._merge(self.mor, "mor")

    def op_delete_dv(self):
        tab = self.mor
        keys = set(self._pick(tab, 10))
        cond = F.col("k").isin(sorted(keys))
        new = {k: r for k, r in tab.model.items() if k not in keys}
        return self._write(tab, lambda: tab.t.delete_where(cond, mode="dv"), new)

    def op_update_dv(self):
        tab = self.mor
        keys = self._pick(tab, 15)
        new = dict(tab.model)
        for k in keys:
            new[k] = (*new[k][:3], new[k][3] * 1.1, new[k][4])
        cond = F.col("k").isin(keys)
        return self._write(
            tab,
            lambda: tab.t.update_where(cond, {"price": "price * 1.1"}, mode="dv"),
            new,
        )

    def op_optimize(self):
        tab = self.mor

        def check(v):
            tab.commit(v, dict(tab.model), self.pass_no)
            tab.fold_at = len(tab.hist) - 1

        return "optimize", lambda: tab.t.optimize(), check

    def op_checkpoint(self):
        return "checkpoint", lambda: [t.t.checkpoint() for t in self.tables], (
            lambda _: True
        )

    def op_read_travel(self):
        v = self.rng.randrange(len(self.cow.hist))
        want = self.cow.hist[v]
        return "read", lambda: _snapshot(self.cow.t.read(v)), (
            lambda got: got == want
        )

    def op_read_latest(self):
        want = self.mor.model
        return "read", lambda: _snapshot(self.mor.t.read()), (
            lambda got: got == want
        )

    def op_read_changes(self):
        tab = self.mor
        hi = len(tab.hist) - 1
        lo = max(tab.fold_at, hi - FEED_COMMITS)
        want = tab.changes(lo, hi)

        def run():
            df = tab.t.read_changes("k", lo, hi).select(*CDF_COLS)
            return sorted(tuple(r) for r in df.collect())

        return "read", run, lambda got: got == want

    def op_drain(self):
        hi = len(self.cow.hist) - 1
        want = self.cow.changes(self.drained_to, hi)

        def run():
            got: list[tuple] = []
            q = (
                self.spark.readStream.format("txlog")
                .option("path", self.cow.path)
                .option("readChangeFeed", "true")
                .option("changeFeedKey", "k")
                .option("startingVersion", "1")
                .load()
                .writeStream.foreachBatch(
                    lambda df, _bid: got.extend(
                        tuple(r) for r in df.select(*CDF_COLS).collect()
                    )
                )
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.id, sorted(got)

        def check(out):
            qid, got = out
            self.tracer.stream_done(qid)
            self.drained_to = hi
            return got == want

        return "drain", run, check

    # -- the pass ---------------------------------------------------------
    def pass_ops(self) -> list:
        cow = [self.op_append, self.op_merge_cow]
        dv = [self.op_delete_dv, self.op_update_dv]
        self.rng.shuffle(cow)
        self.rng.shuffle(dv)
        return [*cow, *dv, self.op_merge_mor, self.op_read_travel,
                self.op_read_latest, self.op_read_changes, self.op_drain,
                self.op_optimize, self.op_checkpoint]

    def run_pass(self, p: int, record) -> None:
        """Run pass ``p``; ``record(kind, seconds, ok, name)`` per op."""
        self.pass_no = p
        for make in self.pass_ops():
            name = make.__name__[3:]
            kind, run, check = make()
            with self.tracer.op(name, kind) as span:
                t0 = time.perf_counter()
                try:
                    out, err = run(), None
                except Exception as e:  # noqa: BLE001 - counted as failed
                    out, err = None, e
                span.seconds = dt = time.perf_counter() - t0
            ok = err is None
            if ok:
                try:
                    ok = check(out) is not False
                except Exception as e:  # noqa: BLE001 - counted as failed
                    ok, err = False, e
            if err is not None:
                print(f"[table_log] {name} failed: {err!r}"[:500], flush=True)
            elif not ok:
                print(f"[table_log] {name}: result differs from the model",
                      flush=True)
            record(kind, dt, ok, name)

    def final_check(self) -> bool:
        return all(_snapshot(t.t.read()) == t.model for t in self.tables)

    def disk_ratio(self) -> float:
        """Table bytes on disk per byte of live snapshot data."""
        total = live = 0
        for tab in self.tables:
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(tab.path) for f in fs
            )
            live += sum(
                tab.t.file_store.size(tab.path, f)
                for f in tab.t.snapshot_files()
            )
        return total / live
