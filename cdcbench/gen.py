"""Seeded input generators for the CDC benchmark.

Pure Python (plus numpy/pyarrow for the batch tables), no Spark. The same
seed gives byte-identical WAL archives, identical star schedules and
identical parquet tables. Each generator also keeps its own Python model of
the changes it emitted, which the workloads check the engine against.

Frames are encoded with the engine's own pgoutput encoders
(``postgresql_cdc_spark.sources.pgoutput``); the engine receives only these
generated inputs.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

from postgresql_cdc_spark.sources.changelog import LINEITEM_COLUMNS
from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    Relation,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)

_OID = {"long": 20, "int": 23, "double": 701, "string": 25}
_KEY = 1  # ColumnMeta flag: part of the replica identity


def _relation(rid: int, name: str, columns: dict, keys: tuple) -> Relation:
    return Relation(rid, "public", name, "d", tuple(
        ColumnMeta(c, _OID[t], _KEY if c in keys else 0)
        for c, t in columns.items()
    ))


class _WalWriter:
    """Appends pgoutput frames at increasing LSNs and applies every DML to a
    per-table model ``{table: {pk: {column: text-or-None}}}`` with the
    engine's merge semantics: insert and full update replace the image, a
    TOAST-absent column keeps its old value, delete drops the key."""

    def __init__(self, lsn: int = 1000, xid: int = 500) -> None:
        self.frames: list[tuple[int, bytes]] = []
        self.lsn = lsn
        self.xid = xid
        self.model: dict[str, dict] = {}
        self.n_dml = 0
        self._txn: list[bytes] | None = None

    def relation(self, rel: Relation) -> None:
        self.model.setdefault(rel.name, {})
        self.lsn += 1
        self.frames.append((self.lsn, encode_relation(rel)))

    def begin(self) -> None:
        self._txn = []

    def _dml(self, payload: bytes) -> None:
        self._txn.append(payload)
        self.n_dml += 1

    def upsert(self, rel: Relation, keys: tuple, row: dict,
               op: str = "I", toast: tuple = ()) -> None:
        names = [c.name for c in rel.columns]
        values = [row.get(c) for c in names]
        skip = {names.index(c) for c in toast}
        if op == "I":
            self._dml(encode_insert(rel.relation_id, values, skip))
        else:
            self._dml(encode_update(rel.relation_id, values, toast=skip))
        pk = tuple(row[k] for k in keys)
        image = {c: row.get(c) for c in names if c not in toast}
        table = self.model[rel.name]
        if toast and pk in table:
            table[pk] = {**table[pk], **image}
        else:
            table[pk] = image

    def delete(self, rel: Relation, keys: tuple, pk: tuple) -> None:
        key_row = dict(zip(keys, pk))
        self._dml(encode_delete(
            rel.relation_id, [key_row.get(c.name) for c in rel.columns]))
        self.model[rel.name].pop(pk, None)

    def commit(self) -> int:
        """Write BEGIN, the DML and COMMIT; return the commit LSN."""
        rows, self._txn = self._txn, None
        final = self.lsn + len(rows) + 2
        self.lsn += 1
        self.frames.append((self.lsn, encode_begin(final, 0, self.xid)))
        for payload in rows:
            self.lsn += 1
            self.frames.append((self.lsn, payload))
        self.lsn += 1
        self.frames.append((self.lsn, encode_commit(self.lsn, self.lsn + 1, 0)))
        self.xid += 1
        return self.lsn


def frames_digest(frames: list) -> str:
    h = hashlib.sha256()
    for lsn, payload in frames:
        h.update(lsn.to_bytes(8, "big"))
        h.update(len(payload).to_bytes(4, "big"))
        h.update(payload)
    return h.hexdigest()


def write_chunks(path: str, frames: list, chunk_frames: int) -> list[str]:
    """Write ``frames`` as numbered archive chunks of ``chunk_frames``."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    return [
        write_wal_archive(path, frames[i:i + chunk_frames],
                          chunk=f"{i // chunk_frames:06d}.wal")
        for i in range(0, len(frames), chunk_frames)
    ]


# --- replay_catchup: a backlog of lineitem + orders changes -----------------

LI_KEYS = ("l_orderkey", "l_linenumber")
ORDERS_COLUMNS = {
    "o_orderkey": "long",
    "o_custkey": "long",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderpriority": "string",
    "o_comment": "string",
}
OR_KEYS = ("o_orderkey",)
LINEITEM_REL = _relation(16384, "lineitem", LINEITEM_COLUMNS, LI_KEYS)
ORDERS_REL = _relation(16385, "orders", ORDERS_COLUMNS, OR_KEYS)
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass
class ReplayInputs:
    frames: list
    n_dml: int
    commits: list  # commit LSN of every transaction, in order
    largest_txn: int
    model: dict = field(repr=False)


def _money(rng: random.Random, lo: float, hi: float) -> str:
    return repr(round(rng.uniform(lo, hi), 2))


def _lineitem(rng: random.Random, ok: int, ln: int, n_part: int) -> dict:
    return {
        "l_orderkey": str(ok), "l_linenumber": str(ln),
        "l_partkey": str(rng.randrange(n_part)),
        "l_suppkey": str(rng.randrange(max(1, n_part // 20))),
        "l_quantity": repr(float(rng.randint(1, 50))),
        "l_extendedprice": _money(rng, 900, 105000),
        "l_discount": repr(rng.randint(0, 10) / 100),
        "l_tax": repr(rng.randint(0, 8) / 100),
        "l_returnflag": rng.choice("ANR"),
        "l_linestatus": rng.choice("FO"),
    }


def _order(rng: random.Random, ok: int, n_cust: int) -> dict:
    words = rng.choices(("carefully", "final", "deposits", "requests",
                         "quickly", "pending", "accounts", "ironic"), k=40)
    return {
        "o_orderkey": str(ok),
        "o_custkey": str(rng.randrange(n_cust)),
        "o_orderstatus": rng.choice("FOP"),
        "o_totalprice": _money(rng, 1000, 500000),
        "o_orderpriority": rng.choice(_PRIORITIES),
        # the wide column that a TOAST-absent update leaves out; some NULL
        "o_comment": None if rng.random() < 0.1 else " ".join(words),
    }


def replay_archive(seed: int, n_orders: int = 1500) -> ReplayInputs:
    """A backlog over two interleaved tables: per-order transactions that
    insert an order with its lineitems, one bulk re-price transaction over
    every live lineitem (``largest_txn``), and mixed transactions of
    full-image updates, TOAST-absent sparse updates and deletes by primary
    key. The seed picks keys and values only: the transaction shapes and
    counts are the same for every seed, so every seed carries the same
    amount of work."""
    rng = random.Random(seed)
    w = _WalWriter()
    w.relation(LINEITEM_REL)
    w.relation(ORDERS_REL)
    n_part = max(20, n_orders // 8)
    n_cust = n_orders // 10 + 1
    commits: list[int] = []
    largest = 0

    def txn(fill) -> None:
        nonlocal largest
        before = w.n_dml
        w.begin()
        fill()
        commits.append(w.commit())
        largest = max(largest, w.n_dml - before)

    def new_order(ok: int) -> None:
        w.upsert(ORDERS_REL, OR_KEYS, _order(rng, ok, n_cust))
        for ln in range(1, 1 + ok % 7 + 1):
            w.upsert(LINEITEM_REL, LI_KEYS, _lineitem(rng, ok, ln, n_part))

    def reprice() -> None:  # every live lineitem, in key order
        for pk in sorted(w.model["lineitem"]):
            row = dict(w.model["lineitem"][pk])
            row["l_extendedprice"] = _money(rng, 900, 105000)
            w.upsert(LINEITEM_REL, LI_KEYS, row, op="U")

    def mixed(i: int) -> None:
        # ten changes: lineitem full, sparse, full, sparse, delete, full;
        # orders full, sparse, delete, sparse
        for j, (table, kind) in enumerate(_MIXED):
            live = w.model[table]
            pk = _pick(rng, live)
            rel, keys = ((LINEITEM_REL, LI_KEYS) if table == "lineitem"
                         else (ORDERS_REL, OR_KEYS))
            if kind == "full":
                row = (_lineitem(rng, int(pk[0]), int(pk[1]), n_part)
                       if table == "lineitem"
                       else _order(rng, int(pk[0]), n_cust))
                w.upsert(rel, keys, row, op="U")
            elif kind == "sparse":  # the wide column is TOAST-absent
                row = dict(live[pk])
                if table == "lineitem":
                    row["l_quantity"] = repr(float(rng.randint(1, 50)))
                    w.upsert(rel, keys, row, op="U",
                             toast=("l_extendedprice",))
                else:
                    row["o_orderstatus"] = rng.choice("FOP")
                    w.upsert(rel, keys, row, op="U", toast=("o_comment",))
            elif (i + j) % 3 == 0:  # every third delete slot deletes
                w.delete(rel, keys, pk)

    n_mixed = 0
    for ok in range(n_orders):
        txn(lambda ok=ok: new_order(ok))
        if ok % 4 == 3:
            txn(lambda i=n_mixed: mixed(i))
            n_mixed += 1
        if ok == n_orders * 3 // 4:
            txn(reprice)
    for _ in range(n_orders // 4):
        txn(lambda i=n_mixed: mixed(i))
        n_mixed += 1
    return ReplayInputs(w.frames, w.n_dml, commits, largest, w.model)


_MIXED = (("lineitem", "full"), ("lineitem", "sparse"), ("lineitem", "full"),
          ("lineitem", "sparse"), ("lineitem", "delete"),
          ("lineitem", "full"), ("orders", "full"), ("orders", "sparse"),
          ("orders", "delete"), ("orders", "sparse"))


def _pick(rng: random.Random, live: dict):
    """A uniformly random live key (dicts keep insertion order, so the pick
    depends only on the seed)."""
    keys = list(live)
    return keys[rng.randrange(len(keys))]


def typed_model(model: dict, columns: dict) -> list[tuple]:
    """The model's rows as typed tuples in ``columns`` order, matching
    ``typed_view`` output (text cast by PostgreSQL text rules)."""
    cast = {"long": int, "int": int, "double": float, "string": str}
    out = []
    for image in model.values():
        out.append(tuple(
            None if image.get(c) is None else cast[t](image[c])
            for c, t in columns.items()
        ))
    return sorted(out, key=repr)


# --- the star view: a schedule of small transactions on a star ---------------

SUPPLIER_COLUMNS = {"s_suppkey": "long", "s_nationkey": "int"}
PART_COLUMNS = {"p_partkey": "long", "p_brand": "int"}
FACT_COLUMNS = {"f_id": "long", "f_suppkey": "long", "f_partkey": "long",
                "f_price": "int", "f_qty": "int"}
SUPPLIER_REL = _relation(16390, "supplier", SUPPLIER_COLUMNS, ("s_suppkey",))
PART_REL = _relation(16391, "part", PART_COLUMNS, ("p_partkey",))
FACT_REL = _relation(16392, "sales", FACT_COLUMNS, ("f_id",))


@dataclass
class StarTxn:
    commit_lsn: int
    n_dml: int
    frames: list


@dataclass
class StarInputs:
    seed_frames: list  # the relations and the transactions that load the star
    seed_dml: int
    txns: list
    model: dict = field(repr=False)  # after every transaction
    seed_model: dict = field(repr=False)  # after the seed load only


def star_schedule(seed: int, n_txn: int, n_supp: int = 20,
                  n_part: int = 200, n_fact: int = 3000) -> StarInputs:
    """Seed transactions that load the star, then ``n_txn`` small
    transactions: fact inserts, updates and deletes, with an occasional
    part or supplier update. As for the replay, the seed picks keys and
    values, not the shape of the work."""
    rng = random.Random(seed)
    w = _WalWriter()
    for rel in (SUPPLIER_REL, PART_REL, FACT_REL):
        w.relation(rel)

    def fact(fid: int) -> dict:
        return {"f_id": str(fid), "f_suppkey": str(rng.randrange(n_supp)),
                "f_partkey": str(rng.randrange(n_part)),
                "f_price": str(rng.randint(1, 500)),
                "f_qty": str(rng.randint(1, 50))}

    w.begin()
    for s in range(n_supp):
        w.upsert(SUPPLIER_REL, ("s_suppkey",),
                 {"s_suppkey": str(s), "s_nationkey": str(rng.randrange(25))})
    for p in range(n_part):
        w.upsert(PART_REL, ("p_partkey",),
                 {"p_partkey": str(p), "p_brand": str(rng.randint(1, 25))})
    w.commit()
    for lo in range(0, n_fact, 500):
        w.begin()
        for fid in range(lo, min(n_fact, lo + 500)):
            w.upsert(FACT_REL, ("f_id",), fact(fid))
        w.commit()
    seed_frames, seed_dml = w.frames, w.n_dml
    seed_model = {t: dict(rows) for t, rows in w.model.items()}
    w.frames = []
    next_fid = n_fact
    txns = []
    for i in range(n_txn):
        before = w.n_dml
        w.begin()
        # three fact changes: an insert, an update, and an update or (every
        # third transaction) a delete; a part every 10th, a supplier every
        # 20th transaction
        w.upsert(FACT_REL, ("f_id",), fact(next_fid))
        next_fid += 1
        live = w.model["sales"]
        w.upsert(FACT_REL, ("f_id",), fact(int(_pick(rng, live)[0])), op="U")
        if i % 3 == 2:
            w.delete(FACT_REL, ("f_id",), _pick(rng, live))
        else:
            w.upsert(FACT_REL, ("f_id",), fact(int(_pick(rng, live)[0])),
                     op="U")
        if i % 10 == 9:
            w.upsert(PART_REL, ("p_partkey",),
                     {"p_partkey": str(rng.randrange(n_part)),
                      "p_brand": str(rng.randint(1, 25))}, op="U")
        if i % 20 == 19:
            w.upsert(SUPPLIER_REL, ("s_suppkey",),
                     {"s_suppkey": str(rng.randrange(n_supp)),
                      "s_nationkey": str(rng.randrange(25))}, op="U")
        commit = w.commit()
        txns.append(StarTxn(commit, w.n_dml - before, w.frames))
        w.frames = []
    return StarInputs(seed_frames, seed_dml, txns, w.model, seed_model)


def star_recompute(model: dict) -> list[tuple]:
    """The star view from the model: (nation, brand, dn, revenue,
    max_price) over facts whose supplier and part both exist."""
    nation = {pk[0]: int(r["s_nationkey"]) for pk, r in model["supplier"].items()}
    brand = {pk[0]: int(r["p_brand"]) for pk, r in model["part"].items()}
    agg: dict = {}
    for r in model["sales"].values():
        s, p = r["f_suppkey"], r["f_partkey"]
        if s in nation and p in brand:
            a = agg.setdefault((nation[s], brand[p]), [0, 0, 0])
            price = int(r["f_price"])
            a[0] += 1
            a[1] += price * int(r["f_qty"])
            a[2] = max(a[2], price)
    return sorted((g[0], g[1], n, rev, mx) for g, (n, rev, mx) in agg.items())


# --- batch_headline: the registry's fixture tables, generated ---------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_WEIGHTS = (0.15, 0.4, 0.15, 0.15, 0.15)
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def batch_tables(seed: int, scale: float = 0.001) -> dict:
    """The ten registry tables (``session.TABLES``) with the fixture schemas,
    at ``scale`` (0.001 → 6000 lineitem rows). Row counts, key ranges and
    value distributions follow the sf0.001 test fixture (measured figures
    side by side in ``BASELINE.md``): the 31-word document vocabulary,
    10–99 tokens per document, 40% English; unit embeddings with no cluster
    structure and a random label; 15 event users per 1000 events."""
    import numpy as np
    import pyarrow as pa

    g = np.random.Generator(np.random.PCG64(seed))
    n = lambda base: max(1, int(round(base * scale / 0.001)))  # noqa: E731
    n_cust, n_supp, n_part = n(150), n(10), n(200)
    n_ord, n_li, n_ev, n_doc, n_emb = n(1500), n(6000), n(1000), n(500), n(500)

    def money(lo, hi, size):
        return np.round(g.uniform(lo, hi, size), 2)

    def days(start, n_days, size):
        base = np.datetime64(start, "us")
        return base + g.integers(0, n_days, size) * np.timedelta64(86400, "s")

    def pick(options, size, p=None):
        return np.asarray(list(options), dtype=object)[
            g.choice(len(options), size, p=p)]

    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    ts = lambda a: pa.array(a, type=pa.timestamp("us"))  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(g.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(pick(_SEGMENTS, n_cust).tolist())})
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(g.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            pick(_ADJ, n_part), pick(_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in g.integers(1, 26, n_part)]),
        "p_type": pa.array(pick(_PTYPES, n_part).tolist()),
        "p_size": i32(g.integers(1, 51, n_part)),
        "p_retailprice": pa.array(
            [round(900 + (i % 200) / 10, 1) for i in range(n_part)])})
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(g.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(pick("FOP", n_ord).tolist()),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": ts(days("1995-01-01", 2404, n_ord)),
        "o_orderpriority": pa.array(pick(_PRIORITIES, n_ord).tolist())})
    qty = g.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": i64(g.integers(0, n_ord, n_li)),
        "l_partkey": i64(g.integers(0, n_part, n_li)),
        "l_suppkey": i64(g.integers(0, n_supp, n_li)),
        "l_linenumber": i32(g.integers(1, 8, n_li)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(money(900, 105000, n_li)),
        "l_discount": pa.array(g.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(g.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(pick("ANR", n_li).tolist()),
        "l_linestatus": pa.array(pick("FO", n_li).tolist()),
        "l_shipdate": ts(days("1995-01-02", 2500, n_li))})
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        g.integers(0, 30 * 86400 * 10**6, n_ev)) * np.timedelta64(1, "us")
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": ts(ev_ts),
        "user_id": i64(g.integers(0, max(2, n_ev // 66), n_ev)),
        "event_type": pa.array(pick(_EVENTS, n_ev).tolist()),
        "value": pa.array(np.round(g.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)])})
    texts = [" ".join(pick(_VOCAB, int(k)).tolist())
             for k in g.integers(10, 100, n_doc)]
    t["documents"] = pa.table({
        "doc_id": i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": pa.array(pick(_LANGS, n_doc, _LANG_WEIGHTS).tolist()),
        "source": pa.array([f"src{k}" for k in g.integers(0, 20, n_doc)]),
        "n_chars": i64([len(s) for s in texts])})
    labels = g.integers(0, 10, n_emb)
    vecs = g.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels)})
    return t


def write_tables(tables: dict, out_dir: str) -> str:
    """Write each table as ``<out_dir>/<name>.parquet``; return a digest of
    the table contents (parquet bytes carry a writer version string)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as wr:
            wr.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
