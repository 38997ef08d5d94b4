"""Structured Streaming CDC source (Spark 4 Python Data Source API).

Realizes the reference engine loop S1-S16 (`CdcEngine.java:67-160`) on Spark's
streaming contract:

- offsets are LSNs; ``latestOffset`` advances at most ``maxRecordsPerBatch``
  DML records per micro-batch, preferring transaction boundaries — an
  oversize transaction is split across batches (early flush,
  `CdcEngine.java:121-124`) but the LSN is only *acknowledged* when no
  transaction is open (`CdcEngine.java:132-137` guard), giving at-least-once,
  txn-aligned delivery;
- ``read()`` decodes pgoutput frames into envelope rows
  ``(op, schema, table, relation_id, lsn, txn_id, columns)``;
- ``commit(offset)`` persists the flush LSN (the ``setFlushedLSN`` analog) so
  the producer may discard WAL ≤ LSN;
- the stream is a single input partition — the replication protocol is one
  ordered socket (SURVEY.md §7); parallelism begins downstream
  (``repartition`` after ingest keeps decode off the hot path).

Two transports:

- **WAL archive replay** (implemented, what tests exercise): a directory of
  chunk files, each holding length-framed ``(lsn, pgoutput-message)`` records
  — the shape a WAL archiver or Kafka dump produces. Fully deterministic.
- **live socket** (stubbed): needs ``psycopg`` + a PostgreSQL with
  ``wal_level=logical``; neither exists in this container. The decode and
  offset logic is transport-independent, so the live transport only swaps the
  frame iterator.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from postgresql_cdc_spark.sources.pgoutput import (
    ChangeRecord,
    PgOutputDecoder,
    ProtocolError,
    TxBegin,
    TxCommit,
)

ENVELOPE_DDL = (
    "op string, schema string, table string, relation_id int, "
    "lsn bigint, txn_id bigint, columns map<string,string>"
)

# lsn, payload length. A plain format string, NOT struct.Struct: the
# module is registered for cloudpickle pickle-by-value (so Python
# workers need no importable package) and Struct objects cannot pickle.
_FRAME_FMT = ">qi"
_FRAME_SIZE = struct.calcsize(_FRAME_FMT)


def write_wal_archive(path: str, frames: List[Tuple[int, bytes]],
                      chunk: str = "000000.wal") -> str:
    """Append length-framed (lsn, message) records to an archive chunk."""
    os.makedirs(path, exist_ok=True)
    fp = os.path.join(path, chunk)
    with open(fp, "ab") as f:
        for lsn, payload in frames:
            f.write(struct.pack(_FRAME_FMT, lsn, len(payload)))
            f.write(payload)
    return fp


def read_wal_frames(path: str) -> Iterator[Tuple[int, bytes]]:
    """All frames in the archive in LSN order (chunks sorted by name, frames
    in file order — producers write in commit order, like WAL itself).

    A chunk may end in a torn frame (relay crash mid-write). Such a frame was
    never acked — the transport replays it into the next chunk — so the torn
    tail is skipped with a warning rather than yielded as a silently short
    payload or a struct error.
    """
    import warnings

    for name in sorted(os.listdir(path)):
        if not name.endswith(".wal"):
            continue
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        pos = 0
        while pos < len(data):
            if pos + _FRAME_SIZE > len(data):
                warnings.warn(
                    f"wal archive {name}: torn frame header at byte {pos}; "
                    "skipping tail (unacked frames replay into a later chunk)"
                )
                break
            lsn, ln = struct.unpack_from(_FRAME_FMT, data, pos)
            pos += _FRAME_SIZE
            if ln < 0 or pos + ln > len(data):
                warnings.warn(
                    f"wal archive {name}: torn frame payload at byte {pos} "
                    f"(declared {ln}, have {len(data) - pos}); skipping tail"
                )
                break
            yield lsn, data[pos:pos + ln]
            pos += ln


@dataclass
class _WalPartition(InputPartition):
    path: str
    start_lsn: int
    end_lsn: int


# -- chunk index (sidecars) ---------------------------------------------------
#
# Without an index, every latestOffset() re-reads and re-decodes the archive
# from the head (to rebuild the relation registry and find the cursor), which
# is O(archive) per micro-batch — quadratic total work over a long-lived
# stream. Each ``<chunk>.wal`` gets a lazily-written ``<chunk>.wal.idx``
# sidecar recording, as of the chunk's last frame: the byte size indexed, the
# max LSN, the open-transaction state, and a FULL snapshot of the relation
# registry. A scan may then skip any chunk whose sidecar is valid (size
# matches — chunks are append-only) and whose max LSN is at or below the
# cursor, restoring registry + txn state from the snapshot instead of
# re-decoding. Registry snapshots are cumulative by induction: every scan
# walks the chunk list from the head, covering each prior chunk either by
# decoding it or via a sidecar that itself carried the cumulative registry.
# Sidecar writes are atomic (tmp + rename) and best-effort (a read-only
# archive simply never gets the speedup); only latestOffset() — driver-side,
# once per batch — writes them, executors' read() only consumes.

def _registry_to_json(relations) -> dict:
    from postgresql_cdc_spark.sources.pgoutput import Relation  # noqa: F401

    return {
        str(rid): {
            "schema": rel.schema,
            "name": rel.name,
            "replica_identity": rel.replica_identity,
            "columns": [[c.name, c.type_oid, c.flags] for c in rel.columns],
        }
        for rid, rel in relations.items()
    }


def _registry_from_json(obj: dict) -> dict:
    from postgresql_cdc_spark.sources.pgoutput import ColumnMeta, Relation

    out = {}
    for rid, r in obj.items():
        out[int(rid)] = Relation(
            relation_id=int(rid),
            schema=r["schema"],
            name=r["name"],
            replica_identity=r["replica_identity"],
            columns=tuple(ColumnMeta(n, o, f) for n, o, f in r["columns"]),
        )
    return out


def _load_sidecar(chunk_fp: str) -> Optional[dict]:
    try:
        with open(chunk_fp + ".idx") as f:
            d = json.load(f)
        if isinstance(d, dict) and {"size", "max_lsn", "txn_open",
                                    "txn_id", "registry"} <= d.keys():
            return d
    except (OSError, ValueError):
        pass
    return None


def _write_sidecar(chunk_fp: str, meta: dict) -> None:
    tmp = chunk_fp + ".idx.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, chunk_fp + ".idx")
    except OSError:  # read-only archive: no index, correctness unaffected
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _read_chunk_bytes(fp: str) -> bytes:
    """Single chokepoint for chunk I/O — tests spy on it to prove indexed
    scans never touch the bytes of chunks behind the cursor."""
    with open(fp, "rb") as f:
        return f.read()


_BASE_SNAPSHOT = "_archive_base.json"


def _load_base_snapshot(path: str) -> Optional[dict]:
    try:
        with open(os.path.join(path, _BASE_SNAPSHOT)) as f:
            d = json.load(f)
        if isinstance(d, dict) and {"base_lsn", "txn_open", "txn_id",
                                    "registry"} <= d.keys():
            return d
    except (OSError, ValueError):
        pass
    return None


def prune_wal_archive(path: str, upto_lsn: Optional[int] = None) -> dict:
    """Retention: delete archive chunks wholly at or below ``upto_lsn`` —
    the ``commit()`` contract's "producer may discard WAL <= flushed LSN",
    which a month-long 100-TB stream needs or the archive grows without
    bound. ``upto_lsn`` defaults to the MIN flushed LSN across EVERY ack
    file in the archive directory (``_flushed_lsn`` plus every
    slot-namespaced ``_flushed_lsn_<slot>`` that `WalArchiveStreamReader`
    creates), refusing to prune if any is unreadable — a shared archive
    must never drop chunks its slowest slot consumer has not acked.
    Consumers acking through an EXPLICIT ``ackpath`` outside the archive
    directory are invisible here; their coordinator must pass ``upto_lsn``
    explicitly.

    Only chunks with a VALID sidecar proving ``max_lsn <= upto_lsn`` are
    removable (no decode needed), pruning stops at the first keeper, and
    the newest chunk is always kept so relay chunk numbering stays
    monotone. Before deleting, the last pruned chunk's cumulative sidecar
    state (relation registry + txn state + max LSN) is promoted to a head
    snapshot (``_archive_base.json``, atomic) that ``scan_wal_messages``
    loads before the first chunk — replays of the RETAINED window keep a
    complete registry even though the RELATION frames left with the
    pruned history. Returns ``{pruned_chunks, pruned_bytes, base_lsn}``.
    """
    if upto_lsn is None:
        try:
            ack_files = sorted(
                n for n in os.listdir(path)
                if (n == "_flushed_lsn" or n.startswith("_flushed_lsn_"))
                and not n.endswith(".tmp")
            )
        except OSError:
            ack_files = []
        if not ack_files:
            return {"pruned_chunks": 0, "pruned_bytes": 0, "base_lsn": None}
        flushed: List[int] = []
        for name in ack_files:
            try:
                with open(os.path.join(path, name)) as f:
                    flushed.append(int(json.load(f)["flushed_lsn"]))
            except (OSError, ValueError, KeyError, TypeError):
                # An unreadable slot ack means SOME consumer's position is
                # unknown — pruning could drop chunks it still needs, so
                # refuse rather than guess (explicit upto_lsn overrides).
                return {"pruned_chunks": 0, "pruned_bytes": 0,
                        "base_lsn": None}
        upto_lsn = min(flushed)
    chunks = sorted(n for n in os.listdir(path) if n.endswith(".wal"))
    prunable: List[str] = []
    last_sidecar: Optional[dict] = None
    for name in chunks[:-1]:  # the newest chunk is always kept
        fp = os.path.join(path, name)
        sc = _load_sidecar(fp)
        if sc is not None:
            try:
                if sc["size"] != os.path.getsize(fp):
                    sc = None
            except OSError:
                sc = None
        if sc is None or sc["max_lsn"] > upto_lsn:
            break  # unindexed or still-needed: keep it and everything after
        prunable.append(name)
        last_sidecar = sc
    if not prunable:
        return {"pruned_chunks": 0, "pruned_bytes": 0, "base_lsn": None}
    # carry forward any EXISTING base snapshot's registry under the new
    # one (sidecar registries are cumulative per scan, and every scan
    # already merges the old snapshot first, so the sidecar state is the
    # complete union — but merging defensively costs nothing)
    assert last_sidecar is not None
    merged_registry = {}
    prev = _load_base_snapshot(path)
    if prev is not None:
        merged_registry.update(prev["registry"])
    merged_registry.update(last_sidecar["registry"])
    snap = {
        "base_lsn": int(last_sidecar["max_lsn"]),
        "txn_open": bool(last_sidecar["txn_open"]),
        "txn_id": int(last_sidecar["txn_id"]),
        "registry": merged_registry,
    }
    # imported here, not at module level, so that importing this module
    # (executors do, to read the pgcdc source) does not pull it in
    from postgresql_cdc_spark.streaming.epoch_maintenance import _fsync_dir

    tmp = os.path.join(path, _BASE_SNAPSHOT + ".tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f)
        f.flush()
        os.fsync(f.fileno())  # snapshot durable BEFORE any chunk dies
    os.replace(tmp, os.path.join(path, _BASE_SNAPSHOT))
    _fsync_dir(path)  # snapshot's directory entry durable BEFORE chunks die
    pruned_bytes = 0
    for name in prunable:
        fp = os.path.join(path, name)
        try:
            pruned_bytes += os.path.getsize(fp)
        except OSError:
            pass
        for victim in (fp, fp + ".idx"):
            try:
                os.unlink(victim)
            except OSError:
                pass
    # prunable is non-empty here (early return above): unlinks durable so
    # no pruned chunk resurrects after a power cut
    _fsync_dir(path)
    return {
        "pruned_chunks": len(prunable),
        "pruned_bytes": pruned_bytes,
        "base_lsn": snap["base_lsn"],
    }


def scan_wal_messages(path: str, decoder, state: dict,
                      skip_upto_lsn: int = -1,
                      write_index: bool = False) -> Iterator[Tuple[int, object]]:
    """Decode the archive in LSN order, yielding ``(lsn, msg)`` per frame.

    ``state`` (``{"txn_open": bool, "txn_id": int}``) is updated in place
    BEFORE each yield and when a chunk is skipped, so callers always see the
    transaction state as of the yielded frame. Chunks wholly at or below
    ``skip_upto_lsn`` with a valid sidecar are skipped: their registry
    snapshot merges into ``decoder.relations`` and their txn state replaces
    ``state`` — byte-identical outcomes to decoding them, minus the I/O.
    With ``write_index`` a sidecar is written for every cleanly-parsed,
    fully-consumed chunk (torn-tail chunks and chunks the caller abandons
    mid-iteration are left unindexed).

    If the archive carries a retention head snapshot (``prune_wal_archive``
    promoted pruned history's registry + txn state to ``_archive_base.json``),
    it is applied before the first chunk, so replays of the retained window
    decode correctly even though the RELATION frames left with the pruned
    chunks.
    """
    import warnings

    def _guard_pruned_start(base_lsn: int) -> None:
        # Mirror PostgreSQL's "requested WAL segment has already been
        # removed": a cursor strictly inside pruned history can no longer
        # be served at-least-once, so fail loudly instead of silently
        # emitting only the retained rows. A fresh reader (no cursor,
        # ``skip_upto_lsn == -1``) legitimately starts at the retention
        # head — warn so the truncated-history replay is visible.
        if skip_upto_lsn < 0:
            warnings.warn(
                f"wal archive {path}: history up to LSN {base_lsn} was "
                "pruned; replay starts at the retention head (registry/"
                "txn state restored from the head snapshot)"
            )
        elif skip_upto_lsn < base_lsn:
            raise ProtocolError(
                f"wal archive {path}: requested start LSN "
                f"{skip_upto_lsn} predates pruned history (retention head "
                f"{base_lsn}) — the requested WAL has already been removed"
            )

    base = _load_base_snapshot(path)
    if base is not None:
        _guard_pruned_start(int(base["base_lsn"]))
        decoder.relations.update(_registry_from_json(base["registry"]))
        state["txn_open"] = bool(base["txn_open"])
        state["txn_id"] = int(base["txn_id"])
        state["max_lsn"] = int(base["base_lsn"])

    for name in sorted(os.listdir(path)):
        if not name.endswith(".wal"):
            continue
        fp = os.path.join(path, name)
        sidecar = _load_sidecar(fp)
        if sidecar is not None:
            try:
                size_now = os.path.getsize(fp)
            except OSError:
                size_now = -1
            if sidecar["size"] != size_now:
                sidecar = None  # chunk grew (append) — stale, full rescan
        if sidecar is not None and sidecar["max_lsn"] <= skip_upto_lsn:
            # Monotone application only: a sidecar wholly BEHIND the scan
            # position (a compaction crash window leaves the merged chunk's
            # constituents on disk until their unlinks land) must not
            # regress txn state / max_lsn — its registry is a subset of
            # what the scan already carries, so there is nothing to apply.
            if int(sidecar["max_lsn"]) > state.get("max_lsn", -1):
                decoder.relations.update(
                    _registry_from_json(sidecar["registry"])
                )
                state["txn_open"] = bool(sidecar["txn_open"])
                state["txn_id"] = int(sidecar["txn_id"])
                state["max_lsn"] = int(sidecar["max_lsn"])
            continue
        try:
            data = _read_chunk_bytes(fp)
        except OSError:
            # A concurrent prune_wal_archive unlinked the chunk between
            # os.listdir and open. Prune's invariant: the head snapshot is
            # fsynced BEFORE any chunk dies and covers every deleted
            # chunk's max LSN, so the vanished frames are acked and their
            # registry/txn state survives in the snapshot — adopt it and
            # keep scanning rather than failing the executor task. Only a
            # chunk that is REALLY gone and explained by a snapshot AHEAD
            # of the scan position qualifies; anything else re-raises.
            nb = _load_base_snapshot(path)
            if os.path.exists(fp) or nb is None:
                raise
            nb_lsn = int(nb["base_lsn"])
            if nb_lsn <= state.get("max_lsn", -1):
                raise  # deletion not explained by retention — real I/O loss
            _guard_pruned_start(nb_lsn)
            decoder.relations.update(_registry_from_json(nb["registry"]))
            state["txn_open"] = bool(nb["txn_open"])
            state["txn_id"] = int(nb["txn_id"])
            state["max_lsn"] = nb_lsn
            continue
        pos = 0
        clean = True
        saw_frame = False

        def _index_chunk() -> None:
            _write_sidecar(fp, {
                "size": len(data),
                "max_lsn": state["max_lsn"],
                "txn_open": state["txn_open"],
                "txn_id": state["txn_id"],
                "registry": _registry_to_json(decoder.relations),
            })

        try:
            while pos < len(data):
                if pos + _FRAME_SIZE > len(data):
                    warnings.warn(
                        f"wal archive {name}: torn frame header at byte {pos};"
                        " skipping tail (unacked frames replay into a later "
                        "chunk)"
                    )
                    clean = False
                    break
                lsn, ln = struct.unpack_from(_FRAME_FMT, data, pos)
                pos += _FRAME_SIZE
                if ln < 0 or pos + ln > len(data):
                    warnings.warn(
                        f"wal archive {name}: torn frame payload at byte {pos}"
                        f" (declared {ln}, have {len(data) - pos}); skipping "
                        "tail"
                    )
                    clean = False
                    break
                msg = decoder.decode(data[pos:pos + ln])
                pos += ln
                if lsn <= state.get("max_lsn", -1):
                    # LSN-monotonicity guard: WAL LSNs strictly increase, so
                    # a frame at or behind the scan position is a DUPLICATE
                    # copy of one already processed — a compaction or prune
                    # crash window can leave a merged chunk's constituents
                    # (or a pruned chunk) on disk alongside the state that
                    # already covers them. The first copy applied every
                    # state transition; replaying it would double-emit.
                    # (decode above is idempotent: identical bytes re-apply
                    # identical RELATION metadata.)
                    continue
                if isinstance(msg, TxBegin):
                    state["txn_open"] = True
                    state["txn_id"] = msg.xid
                elif isinstance(msg, TxCommit):
                    state["txn_open"] = False
                    state["txn_id"] = -1
                saw_frame = True
                state["max_lsn"] = lsn
                yield lsn, msg
        except GeneratorExit:
            # A caller whose budget lands exactly on a chunk's last frame
            # breaks right after that yield — the chunk IS fully parsed, so
            # still index it; a mid-chunk abandon (pos < size) is not.
            if write_index and clean and saw_frame and pos >= len(data):
                _index_chunk()
            raise
        if write_index and clean and saw_frame:
            _index_chunk()


class WalArchiveStreamReader(DataSourceStreamReader):
    """Single-partition LSN-ordered stream over a WAL archive directory."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path'")
        self.max_records = int(options.get("maxrecordsperbatch", 100))
        # readall: offer the whole archive as one batch. Needed under
        # Trigger.AvailableNow — the Python data source API has no
        # AvailableNow support, so Spark falls back to a SINGLE batch whose
        # end is one latestOffset() call; without this the batch would stop
        # at the first txn-aligned budget boundary and silently drop the rest.
        self.read_all = str(options.get("readall", "false")).lower() in (
            "true", "1", "yes",
        )
        # The ack file mirrors a replication slot's confirmed LSN, and like a
        # slot it is SHARED state: two independent queries reading one archive
        # through the same ack file inherit each other's flushed LSN (slot
        # semantics — but surprising for archive replay). The `slot` option
        # namespaces the default ack file per logical consumer; queries that
        # need full isolation pass an explicit `ackpath`.
        slot = options.get("slot")
        default_ack = (
            f"_flushed_lsn_{slot}" if slot else "_flushed_lsn"
        )
        self.ack_path = options.get(
            "ackpath", os.path.join(self.path, default_ack)
        )
        # Durable offset recovery (reference semantics: resume from the
        # slot's confirmed LSN, `CdcEngine.java:143-159`). Without this the
        # in-memory cursor restarts at -1 after a query restart and
        # latestOffset could return an end BELOW the checkpointed start —
        # an inverted batch window. partitions() additionally clamps the
        # cursor to every batch end Spark hands us.
        self._restored: Optional[dict] = None
        try:
            with open(self.ack_path) as f:
                flushed = json.load(f).get("flushed_lsn")
            if flushed is not None:
                self._restored = {"lsn": int(flushed), "txn_open": False}
        except (OSError, ValueError):
            pass
        # startLsn: begin streaming strictly AFTER this LSN — the snapshot
        # handover point. A pipeline that bootstraps from a consistent table
        # snapshot taken at LSN S (Debezium-style initial snapshot; PG's
        # pg_export_snapshot at slot creation) must not re-consume changes
        # the snapshot already reflects, even when the archive still holds
        # them. A checkpoint/ack that is already PAST the handover wins
        # (max) — restart recovery outranks the bootstrap parameter.
        start_opt = options.get("startlsn")
        if start_opt is not None:
            start_lsn = int(start_opt)
            if self._restored is None or self._restored["lsn"] < start_lsn:
                self._restored = {"lsn": start_lsn, "txn_open": False}
        self._last_offset: Optional[dict] = (
            dict(self._restored) if self._restored else None
        )

    # -- offsets -------------------------------------------------------------

    def initialOffset(self) -> dict:
        # The construction-time recovered offset only — NOT the live cursor
        # (initialOffset may be called after latestOffset; returning the
        # cursor would collapse the batch window to empty).
        if self._restored is not None:
            return dict(self._restored)
        return {"lsn": -1, "txn_open": False}

    def latestOffset(self) -> dict:
        """Scan forward from the start; stop ≥ max_records DML past the last
        offset, preferring a COMMIT boundary (txn_open False) when one lands
        within the budget window. Never regresses below the highest offset
        previously offered or committed."""
        # NB: called on the driver once per micro-batch. The chunk index
        # makes this O(new data + #chunks), not O(archive): chunks wholly
        # behind the cursor are skipped via their sidecars (registry + txn
        # state restored from the snapshot), and this driver-side call is
        # the one place sidecars get written. A live transport would
        # instead track the socket's last received LSN.
        last = self._last_offset or self.initialOffset()
        start_lsn = last["lsn"]
        budget = float("inf") if self.read_all else self.max_records
        decoder = PgOutputDecoder()
        n_dml = 0
        end_lsn = start_lsn
        state = {"txn_open": False, "txn_id": -1}
        for lsn, msg in scan_wal_messages(
            self.path, decoder, state,
            skip_upto_lsn=start_lsn, write_index=True,
        ):
            if lsn <= start_lsn:
                continue  # straddling chunk: pre-cursor frames only advance state
            if isinstance(msg, ChangeRecord):
                n_dml += 1
            end_lsn = lsn
            if n_dml >= budget and not state["txn_open"]:
                break
        out = {"lsn": end_lsn, "txn_open": state["txn_open"]}
        self._last_offset = out
        return out

    # -- read ----------------------------------------------------------------

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        # Offset-monotonicity clamp: on restart Spark replays the last
        # uncommitted batch via partitions() without calling latestOffset();
        # adopting its end here keeps the cursor ahead of every offset the
        # checkpoint has seen.
        if self._last_offset is None or end["lsn"] > self._last_offset["lsn"]:
            self._last_offset = dict(end)
        return [_WalPartition(self.path, start["lsn"], end["lsn"])]

    def read(self, partition: _WalPartition) -> Iterator[tuple]:
        """Decode the archive; emit envelope rows with start < lsn <= end.

        The relation registry must be complete at the window start (RELATION
        may precede the window, possibly by the whole archive): chunks wholly
        behind the window whose sidecar index exists are skipped via their
        registry + txn-state snapshots; unindexed head chunks fall back to
        replay, where the out-of-window path hits the cheap skip branches.
        Executors only CONSUME sidecars (the driver's latestOffset writes
        them), so this path never mutates the archive directory.
        """
        decoder = PgOutputDecoder()
        # txn_id -1 = DML outside any txn: singleton semantics
        state = {"txn_open": False, "txn_id": -1}
        for lsn, msg in scan_wal_messages(
            partition.path, decoder, state,
            skip_upto_lsn=partition.start_lsn, write_index=False,
        ):
            if lsn > partition.end_lsn:
                break
            if msg is None or lsn <= partition.start_lsn:
                continue
            if isinstance(msg, ChangeRecord):
                yield (
                    msg.op,
                    msg.relation.schema,
                    msg.relation.name,
                    msg.relation.relation_id,
                    lsn,
                    state["txn_id"],
                    msg.columns,
                )

    # -- ack -----------------------------------------------------------------

    def commit(self, end: dict) -> None:
        """Flush-LSN ack — only when no transaction is open at the batch
        boundary (at-least-once: a mid-txn crash replays the whole txn)."""
        if end.get("txn_open"):
            return
        tmp = self.ack_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"flushed_lsn": end["lsn"]}, f)
        os.replace(tmp, self.ack_path)


class WalArchiveBatchReader(DataSourceReader):
    """Batch replay of the whole archive (``spark.read.format("pgcdc")``) —
    the change-log-as-table view used for backfills."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path'")

    def read(self, partition) -> Iterator[tuple]:
        part = _WalPartition(self.path, -1, 1 << 62)
        yield from WalArchiveStreamReader(
            {"path": self.path}
        ).read(part)


class PgCdcDataSource(DataSource):
    """``spark.readStream.format("pgcdc").option("path", dir)`` → envelope
    stream; ``spark.read`` for full-archive batch replay. Register with
    ``spark.dataSource.register(PgCdcDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "pgcdc"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def streamReader(self, schema) -> WalArchiveStreamReader:
        return WalArchiveStreamReader(
            {k.lower(): v for k, v in self.options.items()}
        )

    def reader(self, schema) -> WalArchiveBatchReader:
        return WalArchiveBatchReader(
            {k.lower(): v for k, v in self.options.items()}
        )


def run_wal_relay(transport, path: str, chunk_frames: int = 1000,
                  max_frames: Optional[int] = None) -> int:
    """Drain a replication transport into the WAL-archive format the pgcdc
    source streams — the production composition for live capture:

        PostgreSQL --socket--> LiveReplicationTransport --relay--> archive
                   --pgcdc source--> Structured Streaming query

    The relay is the only long-lived single connection; everything after the
    archive is restartable, parallelizable Spark. Frames land in rotating
    chunk files (numbered so ``read_wal_frames`` replays them in order) and
    the transport is acked only AFTER a chunk is durably on disk — the
    at-least-once contract (`CdcEngine.java:132-137`): a relay crash between
    write and ack replays the chunk, never loses it.

    Returns the number of frames relayed (``max_frames`` bounds the run for
    tests / drain-and-stop usage; a live deployment omits it and runs
    forever).
    """
    from postgresql_cdc_spark.streaming.epoch_maintenance import _fsync_dir

    os.makedirs(path, exist_ok=True)
    # max(existing)+1, not len(existing): with a gap in the numbering (manual
    # cleanup, a differently-numbered pre-existing archive) len() could reuse a
    # live name — silently appending to an old chunk or sorting BEFORE
    # higher-LSN chunks, breaking read_wal_frames' name-order==LSN-order
    # contract.
    existing_nums = []
    for n in os.listdir(path):
        if n.endswith(".wal"):
            try:
                existing_nums.append(int(n[:-4]))
            except ValueError:
                pass
    chunk_idx = max(existing_nums) + 1 if existing_nums else 0
    buf: List[Tuple[int, bytes]] = []
    n = 0

    def flush() -> None:
        nonlocal chunk_idx, buf
        if not buf:
            return
        fp = write_wal_archive(path, buf, chunk=f"{chunk_idx:06d}.wal")
        with open(fp, "rb") as f:  # durability barrier before the ack
            os.fsync(f.fileno())
        _fsync_dir(path)  # ... and the chunk's directory entry with it
        transport.ack(buf[-1][0])
        chunk_idx += 1
        buf = []

    for lsn, payload in transport.frames():
        buf.append((lsn, payload))
        n += 1
        if len(buf) >= chunk_frames:
            flush()
        if max_frames is not None and n >= max_frames:
            break
    flush()
    return n
