"""``lakehouse_txn``: writes beside reads on one ``FileCommitLog`` table
seeded from the generated ``lineitem``.

The correctness model is a key → (quantity, price in cents) map with
its aggregates recorded per committed version and its change feed per
version. Every read returns (rows, Σ key code, Σ quantity, Σ cents),
which must equal the model's; change-feed reads and the streaming tail
must equal the model's inserts and deletes over the same versions.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import gen
from harness import tree_usage

SF = 0.01  # 60k seed rows
SEED_FILES = 4  # seed appends in orderkey-contiguous slices
BATCH = 500  # rows per write
ROW_BYTES = 78  # user bytes of one lineitem row (fixed-width encoding)
# One round of operations, in this order. Every round holds the same
# work, so a run that measures whole rounds measures the same work
# whatever the seed; the seed drives the table and the write batches.
MIX = [
    "append", "read", "merge_by_key", "read_pruned", "append_all",
    "read_as_of", "delete_where", "read_changes", "write_checkpoint",
    "compact",
]
# ``lakehouse_tail`` adds the ``filelog_changes`` stream tail. It fails
# on this table with the current engine: the source hands Spark's INT96
# timestamp column to Spark as pyarrow Timestamp(NANOSECOND), which
# Spark rejects (UNSUPPORTED_ARROWTYPE). The failures are reported as
# failed operations of that workload.
TAIL_MIX = MIX + ["tail"]
_ZERO = (0, 0, 0, 0)


def _add(a, b, sign=1):
    return tuple(x + sign * y for x, y in zip(a, b))


def _code(k) -> int:
    return k[0] * 8 + k[1]


class TxnModel:
    def __init__(self) -> None:
        self.rows: "dict[tuple[int, int], tuple[int, int]]" = {}
        self.agg = _ZERO
        self.at: "dict[int, tuple]" = {}  # version -> aggregates
        self.changes: "dict[int, dict[str, tuple]]" = {}

    @staticmethod
    def _one(k, v) -> tuple:
        return (1, _code(k), v[0], v[1])

    def commit(self, version, upserts=(), deletes=()) -> None:
        ins = dele = _ZERO
        for k in deletes:
            v = self.rows.pop(k)
            dele = _add(dele, self._one(k, v))
        for k, v in upserts:
            old = self.rows.get(k)
            if old is not None:
                dele = _add(dele, self._one(k, old))
            self.rows[k] = v
            ins = _add(ins, self._one(k, v))
        self.agg = _add(_add(self.agg, ins), dele, -1)
        self.at[version] = self.agg
        self.changes[version] = {"insert": ins, "delete": dele}

    def range_agg(self, lo: int, hi: int) -> tuple:
        out = _ZERO
        for k, v in self.rows.items():
            if lo <= k[0] <= hi:
                out = _add(out, self._one(k, v))
        return out

    def changes_between(self, v0: int, v1: int) -> "dict[str, tuple]":
        out = {"insert": _ZERO, "delete": _ZERO}
        for v in range(v0 + 1, v1 + 1):
            for t, a in self.changes.get(v, {}).items():
                out[t] = _add(out[t], a)
        return out


def _agg(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber")),
        F.sum(F.col("l_quantity").cast("long")),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
    ).first()
    return tuple(int(x or 0) for x in r)


def _change_agg(df) -> "dict[str, tuple]":
    from pyspark.sql import functions as F

    out = {"insert": _ZERO, "delete": _ZERO}
    for r in df.groupBy("_change_type").agg(
        F.count(F.lit(1)),
        F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber")),
        F.sum(F.col("l_quantity").cast("long")),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
    ).collect():
        out[r[0]] = _add(out[r[0]], tuple(int(x or 0) for x in r[1:]))
    return out


class LakehouseTxn:
    def __init__(self, ctx, tail: bool = False) -> None:
        self.ctx = ctx
        self.mix = TAIL_MIX if tail else MIX

    def setup(self, spark, work: str) -> None:
        from metar_pipeline_spark.sources.filelog import FileCommitLog
        from metar_pipeline_spark.sources.filelog_stream import (
            FileLogChangeDataSource,
        )

        self.spark = spark
        self.rng = np.random.default_rng(self.ctx.seed)
        li = gen.tables(self.ctx.seed, SF)["lineitem"].to_pandas()
        self.template = li.iloc[:BATCH].copy()
        self.root = self.storage_root = os.path.join(work, "table")
        self.ckpt = os.path.join(work, "tail_ckpt")
        for d in (self.root, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        spark.dataSource.register(FileLogChangeDataSource)
        self.log = FileCommitLog(spark, self.root, stats_cols=["l_orderkey"])
        self.model = TxnModel()
        self.next_key = int(li.l_orderkey.max()) + 1
        for part in np.array_split(li, SEED_FILES):
            with self.ctx.tracer.span("sources.filelog.append"):
                v = self.log.append(spark.createDataFrame(part))
            self.model.commit(v, upserts=self._kv(part))
        self.seeded = self.changes_from = self.log.latest_version()
        self.tailed = -1  # the first tail streams the whole history
        # warm-up: one of each batch read path
        _agg(self.log.read())
        _agg(self.log.read_pruned("l_orderkey", 0, 1000))
        self.rows_written = self.op_written = 0

    @staticmethod
    def _kv(pdf):
        return [
            ((int(o), int(n)), (int(q), int(round(p * 100))))
            for o, n, q, p in zip(pdf.l_orderkey, pdf.l_linenumber,
                                  pdf.l_quantity, pdf.l_extendedprice)
        ]

    # -- batch makers (seeded, outside timing) ----------------------------

    def _batch(self, keys):
        pdf = self.template.iloc[: len(keys)].copy()
        pdf["l_orderkey"] = [k[0] for k in keys]
        pdf["l_linenumber"] = np.array([k[1] for k in keys], np.int32)
        pdf["l_quantity"] = self.rng.integers(1, 51, len(keys)).astype(float)
        pdf["l_extendedprice"] = (
            self.rng.integers(90000, 10500000, len(keys)) / 100.0
        )
        return pdf

    def _new_keys(self, n):
        n_orders = n // 4
        keys = [(self.next_key + o, ln) for o in range(n_orders)
                for ln in range(1, 5)]
        self.next_key += n_orders
        return keys

    def _mixed_keys(self, n):
        ok = self.rng.integers(0, self.next_key, n)
        ln = self.rng.integers(1, 8, n)
        return sorted({(int(a), int(b)) for a, b in zip(ok, ln)})

    def _wrote(self, rows: int) -> None:
        self.rows_written += rows
        self.op_written += rows

    # -- operations --------------------------------------------------------

    @property
    def pass_len(self) -> int:
        return len(self.mix)

    def make_op(self, i: int):
        kind = self.last_kind = self.mix[i % len(self.mix)]
        return kind, getattr(self, "_op_" + kind)()

    def _write(self, name, fn, upserts=(), deletes=()):
        def run():
            with self.ctx.tracer.span("sources.filelog." + name):
                v = fn()
            if v is not None:
                self.model.commit(v, upserts, deletes)
            self._wrote(len(upserts))
            return True

        return run

    def _op_append(self):
        pdf = self._batch(self._new_keys(BATCH))
        df = self.spark.createDataFrame(pdf)
        return self._write("append", lambda: self.log.append(df),
                           self._kv(pdf))

    def _op_append_all(self):
        pdfs = [self._batch(self._new_keys(BATCH // 4)) for _ in range(4)]
        dfs = [self.spark.createDataFrame(p) for p in pdfs]
        workers = min(os.cpu_count() or 1, 4)

        def run():
            with self.ctx.tracer.span("sources.filelog.append_all"):
                vs = self.log.append_all(dfs, max_workers=workers)
            for v, p in sorted(zip(vs, pdfs), key=lambda t: t[0]):
                self.model.commit(v, self._kv(p))
            self._wrote(sum(len(p) for p in pdfs))
            return True

        return run

    def _op_merge_by_key(self):
        pdf = self._batch(self._mixed_keys(BATCH))
        df = self.spark.createDataFrame(pdf)
        return self._write(
            "merge_by_key",
            lambda: self.log.merge_by_key(df, ["l_orderkey", "l_linenumber"]),
            self._kv(pdf),
        )

    def _op_delete_where(self):
        from pyspark.sql import functions as F

        lo = int(self.rng.integers(0, self.next_key - 100))
        hi = lo + 99
        gone = [k for k in self.model.rows if lo <= k[0] <= hi]
        return self._write(
            "delete_where",
            lambda: self.log.delete_where(
                F.col("l_orderkey").between(lo, hi)
            ),
            deletes=gone,
        )

    def _op_write_checkpoint(self):
        def run():
            with self.ctx.tracer.span("sources.filelog.write_checkpoint"):
                self.log.write_checkpoint()
            return True

        return run

    def _op_compact(self):
        def run():
            with self.ctx.tracer.span("sources.filelog.compact"):
                v = self.log.compact()
            if v is not None:  # content-neutral: same rows, no changes
                self.model.at[v] = self.model.agg
            return True

        return run

    def _read(self, name, build, want):
        def run():
            with self.ctx.tracer.span("sources.filelog." + name):
                df = build()
            with self.ctx.tracer.span("engine.exec"):
                got = _agg(df)
            return got == want, df

        return run

    def _op_read(self):
        return self._read("read", self.log.read, self.model.agg)

    def _op_read_pruned(self):
        width = max(1, self.next_key // 100)
        lo = int(self.rng.integers(0, self.next_key - width))
        want = self.model.range_agg(lo, lo + width - 1)
        return self._read(
            "read_pruned",
            lambda: self.log.read_pruned("l_orderkey", lo, lo + width - 1),
            want,
        )

    def _op_read_as_of(self):
        # the seeded version, older than every checkpoint and compaction
        # of the run: the table never expires versions, so it stays
        # readable
        v = self.seeded
        return self._read("read_as_of", lambda: self.log.read(as_of=v),
                          self.model.at[v])

    def _op_read_changes(self):
        v0, v1 = self.changes_from, self.log.latest_version()
        want = self.model.changes_between(v0, v1)

        def run():
            with self.ctx.tracer.span("sources.filelog.read_changes"):
                df = self.log.read_changes(v0, v1)
            with self.ctx.tracer.span("engine.exec"):
                got = _change_agg(df)
            self.changes_from = v1
            return got == want, df

        return run

    def _tail(self) -> "dict[str, tuple]":
        acc = {"insert": _ZERO, "delete": _ZERO}

        def sink(df, _bid):
            for t, a in _change_agg(df).items():
                acc[t] = _add(acc[t], a)

        q = (
            self.spark.readStream.format("filelog_changes")
            .option("path", self.root)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return acc

    def _op_tail(self):
        v0, v1 = self.tailed, self.log.latest_version()
        want = self.model.changes_between(v0, v1)

        def run():
            with self.ctx.tracer.span("sources.filelog_stream.tail"):
                got = self._tail()
            self.tailed = v1
            return got == want, None

        return run

    def check(self, i: int, res) -> bool:
        """Writes update the model as they commit; reads return (result
        matches the model, frame read)."""
        if isinstance(res, tuple):
            ok, df = res
            if df is not None and self.last_kind == "read_pruned":
                self.ctx.layer_sample(
                    "filelog.pruned_files_ratio",
                    len(df.inputFiles()) / len(self.log.live_files()),
                )
            return ok
        return res is True

    def final_check(self) -> bool:
        return _agg(self.log.read()) == self.model.agg

    def storage(self, written: int) -> "dict[str, float]":
        """Storage figures; ``written`` is the bytes the timed writes
        added to the table directory."""
        size, files = tree_usage(self.root)
        live = len(self.log.live_files())
        user = len(self.model.rows) * ROW_BYTES
        commits = os.path.join(self.root, "_commits")
        self.ctx.layer_value("filelog.live_files", live)
        self.ctx.layer_value(
            "filelog.log_entries",
            len([n for n in os.listdir(commits) if n.endswith(".json")]),
        )
        self.ctx.layer_value(
            "filelog.bytes_written_per_user_byte",
            written / max(1, self.rows_written * ROW_BYTES),
        )
        return {"storage.bytes_per_user_byte": size / user}

    def op_rows(self, i: int, res) -> int:
        """Rows the operation wrote (inserted or upserted)."""
        n, self.op_written = self.op_written, 0
        return n
