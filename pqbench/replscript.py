"""Seeded Preql statement scripts for the ``repl`` workload.

Each read template carries its own DuckDB SQL over the same parquet
files, its answer key.  Writes go to two declared tables and are
mirrored in a Python model of their contents, so reads of those tables
and the final table contents are checked against the model.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@dataclass
class Stmt:
    kind: str              # template name
    write: bool
    preql: str
    sql: str | None = None            # answer key for table/scalar reads
    result: str = "table"             # table | scalar | list | none
    expect: object = None             # answer key computed by the model


def _read_templates(r: random.Random) -> list[Stmt]:
    # parameter ranges are narrow so that result sizes, and so the cost
    # of each template, vary little from one seed to the next
    a = round(r.uniform(9000, 9200), 2)
    seg = r.choice(SEGMENTS)
    status = r.choice("FOP")
    q = r.randint(40, 44)
    k = r.randint(8, 12)
    p = r.randint(450_000, 460_000)
    reg = r.randint(0, 4)
    nat = r.randint(0, 24)
    ok = r.randint(90, 110)
    lits = [r.randint(-50, 50) for _ in range(5)]
    return [
        Stmt("select", False,
             f'customer[c_acctbal > {a}, c_mktsegment == "{seg}"]'
             '{c_custkey, c_acctbal}',
             f"SELECT c_custkey, c_acctbal FROM customer "
             f"WHERE c_acctbal > {a} AND c_mktsegment = '{seg}'"),
        Stmt("group_count", False,
             f'orders[o_orderstatus == "{status}"]'
             '{o_orderpriority => n: count()}',
             "SELECT o_orderpriority, count(*) AS n FROM orders "
             f"WHERE o_orderstatus = '{status}' GROUP BY 1"),
        Stmt("group_agg", False,
             f"lineitem[l_quantity > {q}]{{l_returnflag, l_linestatus => "
             "s: sum(l_quantity), m: max(l_extendedprice)}",
             "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s, "
             f"max(l_extendedprice) AS m FROM lineitem "
             f"WHERE l_quantity > {q} GROUP BY 1, 2"),
        Stmt("order_slice", False,
             f"customer order {{^c_acctbal, c_custkey}} [0..{k}]",
             "SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey "
             f"LIMIT {k}"),
        Stmt("join3", False,
             f"join(c: customer[c_acctbal > {a}], n: nation, r: region)"
             "{cust: c.c_custkey, reg: r.r_name}",
             "SELECT c_custkey AS cust, r_name AS reg FROM customer "
             "JOIN nation ON c_nationkey = n_nationkey "
             "JOIN region ON n_regionkey = r_regionkey "
             f"WHERE c_acctbal > {a}"),
        Stmt("join_group", False,
             f"join(o: orders[o_totalprice > {p}], c: customer)"
             "{seg: c.c_mktsegment => n: count()}",
             "SELECT c_mktsegment AS seg, count(*) AS n FROM orders "
             f"JOIN customer ON o_custkey = c_custkey "
             f"WHERE o_totalprice > {p} GROUP BY 1"),
        Stmt("func_def", False,
             "func rich(t, lim) = t[c_acctbal > lim]", result="none"),
        Stmt("func_call", False, f"count(rich(customer, {a}))",
             f"SELECT count(*) FROM customer WHERE c_acctbal > {a}",
             result="scalar"),
        Stmt("count", False, f"count(orders[o_totalprice > {p}])",
             f"SELECT count(*) FROM orders WHERE o_totalprice > {p}",
             result="scalar"),
        Stmt("list_column", False,
             f"list(nation[n_regionkey == {reg}]{{n_name}})",
             f"SELECT n_name FROM nation WHERE n_regionkey = {reg}",
             result="list"),
        Stmt("list_literal", False,
             f"list([{lits[0]}, {lits[1]}, {lits[2]}] + "
             f"[{lits[3]}, {lits[4]}])",
             f"SELECT unnest({lits})", result="list"),
        Stmt("project_expr", False,
             f"lineitem[l_orderkey < {ok}]{{l_orderkey, l_linenumber, "
             "net: l_extendedprice * (1 - l_discount)}",
             "SELECT l_orderkey, l_linenumber, "
             "l_extendedprice * (1 - l_discount) AS net "
             f"FROM lineitem WHERE l_orderkey < {ok}"),
        Stmt("distinct", False,
             f"distinct(customer[c_nationkey == {nat}]{{c_mktsegment}})",
             "SELECT DISTINCT c_mktsegment FROM customer "
             f"WHERE c_nationkey = {nat}"),
    ]


@dataclass
class Model:
    """Python mirror of the tables the script writes."""
    acct: list[dict] = field(default_factory=list)
    ledger: list[dict] = field(default_factory=list)

    @staticmethod
    def _next_id(rows):
        return max((x["id"] for x in rows), default=0) + 1

    def apply(self, kind: str, args: tuple) -> None:
        if kind == "new_acct":
            self.acct.append({"id": self._next_id(self.acct),
                              "name": args[0], "bal": args[1]})
        elif kind == "new_ledger":
            self.ledger.append({"id": self._next_id(self.ledger),
                                "acct": args[0], "amount": args[1]})
        elif kind == "update_acct":
            lim, d = args
            for x in self.acct:
                if x["bal"] < lim:
                    x["bal"] += d
        elif kind == "delete_ledger":
            self.ledger = [x for x in self.ledger if not x["amount"] > args[0]]
        elif kind == "delete_acct":
            self.acct = [x for x in self.acct if not x["bal"] > args[0]]


PRELUDE = [Stmt("declare", True, "table Acct {name: string, bal: int}",
                result="none"),
           Stmt("declare", True, "table Ledger {acct: int, amount: int}",
                result="none"),
           Stmt("func_def", False, "func rich(t, lim) = t[c_acctbal > lim]",
                result="none")]


REWRITES = ("update_acct", "delete_ledger", "delete_acct")


class Script:
    """An endless, seeded statement stream.  Each block holds every
    read template once plus three writes, in a seeded order, so about
    80% of statements are reads and every block costs about the same.
    The table rewrites (update, delete) take turns between blocks."""

    def __init__(self, seed: int):
        self.r = random.Random(seed)
        self.model = Model()
        self.n = 0
        self.blocks = 0

    def _write(self, kind: str) -> tuple[Stmt, tuple]:
        r = self.r
        self.n += 1
        if kind == "new_acct":
            args = (f"a{self.n}", r.randint(0, 1000))
            text = f'new Acct("{args[0]}", {args[1]})'
        elif kind == "new_ledger":
            args = (r.randint(1, 50), r.randint(-500, 500))
            text = f"new Ledger({args[0]}, {args[1]})"
        elif kind == "update_acct":
            args = (r.randint(100, 900), r.randint(1, 50))
            text = f"Acct[bal < {args[0]}] update {{bal: bal + {args[1]}}}"
        elif kind == "delete_ledger":
            args = (r.randint(300, 500),)
            text = f"Ledger delete [amount > {args[0]}]"
        else:
            args = (r.randint(950, 1000),)
            text = f"Acct delete [bal > {args[0]}]"
        return Stmt(kind, True, text, result="none"), args

    def block(self):
        """Yield ``(stmt, apply)``: ``apply()`` updates the model once
        the statement has run."""
        items = [(s, None) for s in _read_templates(self.r)]
        lim = self.r.randint(0, 1000)
        items.append((Stmt("model_count", False,
                           f"count(Acct[bal > {lim}])", result="scalar"),
                       ("count", lim)))
        # two single-row inserts and one table rewrite per block
        rewrite = REWRITES[self.blocks % len(REWRITES)]
        self.blocks += 1
        items += [self._write(k) for k in ("new_acct", "new_ledger", rewrite)]
        self.r.shuffle(items)
        for stmt, args in items:
            if stmt.write:
                yield stmt, (lambda k=stmt.kind, a=args:
                             self.model.apply(k, a))
            else:
                if args is not None:
                    stmt.expect = sum(1 for x in self.model.acct
                                      if x["bal"] > args[1])
                yield stmt, None

    def __iter__(self):
        for stmt in PRELUDE:
            yield stmt, None
        while True:
            yield from self.block()
