"""``lakehouse_mixed``: one caller mixing ``lakehouse_txn`` operations
with ``curation_queries`` in the same session.

A round is one ``lakehouse_txn`` round (each transaction op once, in
its fixed order) with one pass over the curation queries spread evenly
between the transaction ops. Each part keeps its own inputs,
correctness checks and per-layer figures; the round only decides which
part runs the next operation.
"""

from __future__ import annotations

from queries import CURATION, RegistryQueries
from txn import LakehouseTxn


class LakehouseMixed:
    def __init__(self, ctx) -> None:
        self.txn = LakehouseTxn(ctx)
        self.queries = RegistryQueries(ctx, CURATION, 0.001)
        # the runner reads this before set-up: share the queries' dict
        self.table_rows = self.queries.table_rows
        n_txn, n_q = self.txn.pass_len, len(CURATION)
        after = {(2 * q + 1) * n_txn // (2 * n_q) for q in range(n_q)}
        self.slots = []
        for k in range(n_txn):
            self.slots.append("txn")
            if k in after:
                self.slots.append("query")
        self.n = {"txn": 0, "query": 0}

    def setup(self, spark, work: str) -> None:
        self.queries.setup(spark, work)
        self.txn.setup(spark, work)
        self.storage_root = self.txn.storage_root

    @property
    def pass_len(self) -> int:
        return len(self.slots)

    def _part(self, i: int):
        return self.txn if self.slots[i % len(self.slots)] == "txn" \
            else self.queries

    def make_op(self, i: int):
        name = self.slots[i % len(self.slots)]
        k = self.n[name]
        self.n[name] += 1
        return self._part(i).make_op(k)

    def check(self, i: int, res) -> bool:
        return self._part(i).check(i, res)

    def final_check(self) -> "set[str]":
        """Kinds whose operations failed: every transaction kind if the
        table's final contents differ from the model, and each query
        whose result differs from its oracle."""
        bad = set(self.queries.final_check())
        if not self.txn.final_check():
            bad.update(self.txn.mix)
        return bad

    def storage(self, written: int) -> "dict[str, float]":
        return self.txn.storage(written)

    def op_rows(self, i: int, res):
        """Rows a transaction op wrote; ``None`` for a query (the
        runner counts the rows it loaded)."""
        if self._part(i) is self.txn:
            return self.txn.op_rows(i, res)
        return None
