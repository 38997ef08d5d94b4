"""WAL archive chunk index: sidecars make the source O(new data) per batch.

Without the index, ``latestOffset()`` re-read and re-decoded the archive from
the head every micro-batch and ``read()`` replayed from the head to rebuild
the relation registry — O(archive) per batch, quadratic over a long-lived
stream. These tests pin the r11 fix: per-chunk ``.idx`` sidecars (byte size,
max LSN, txn state, cumulative registry snapshot) let both calls skip every
chunk wholly behind the cursor, with byte-identical envelope output.
"""

from __future__ import annotations

import json
import os

import pytest

from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    PgOutputDecoder,
    Relation,
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
)
from postgresql_cdc_spark.streaming import source as src
from postgresql_cdc_spark.streaming.source import (
    WalArchiveStreamReader,
    _WalPartition,
    scan_wal_messages,
    write_wal_archive,
)

REL = Relation(
    relation_id=16384,
    schema="public",
    name="t",
    replica_identity="d",
    columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v", 1043)),
)


def _mk_archive(path: str, n_chunks: int = 3, txns_per_chunk: int = 4):
    """RELATION only in chunk 0 — later-chunk decode depends on registry
    recovery. One txn = BEGIN + 2 INSERTs + COMMIT, LSNs strictly increasing
    across chunks."""
    lsn = 0
    for c in range(n_chunks):
        frames = []
        if c == 0:
            lsn += 1
            frames.append((lsn, encode_relation(REL)))
        for t in range(txns_per_chunk):
            xid = 100 * c + t
            lsn += 1
            frames.append((lsn, encode_begin(lsn + 3, 0, xid)))
            for i in range(2):
                lsn += 1
                frames.append(
                    (lsn, encode_insert(16384, [str(xid), f"v{c}.{t}.{i}"]))
                )
            lsn += 1
            frames.append((lsn, encode_commit(lsn, lsn, 0)))
        write_wal_archive(path, frames, chunk=f"{c:06d}.wal")
    return lsn


def _drain(reader: WalArchiveStreamReader, path: str):
    """Run the micro-batch loop to exhaustion; return (rows, n_batches)."""
    rows, batches = [], 0
    start = reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end["lsn"] <= start["lsn"]:
            break
        part = reader.partitions(start, end)[0]
        rows.extend(reader.read(part))
        reader.commit(end)
        start = end
        batches += 1
    return rows, batches


class TestSidecarLifecycle:
    def test_sidecars_written_and_valid(self, tmp_path):
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3)
        r = WalArchiveStreamReader({"path": arch, "readall": "true"})
        r.latestOffset()
        idx = sorted(n for n in os.listdir(arch) if n.endswith(".idx"))
        assert idx == ["000000.wal.idx", "000001.wal.idx", "000002.wal.idx"]
        with open(os.path.join(arch, "000000.wal.idx")) as f:
            meta = json.load(f)
        assert meta["size"] == os.path.getsize(os.path.join(arch, "000000.wal"))
        assert meta["txn_open"] is False
        # cumulative registry snapshot carries the relation
        assert "16384" in meta["registry"]
        assert meta["registry"]["16384"]["name"] == "t"

    def test_partial_scan_indexes_only_consumed_chunks(self, tmp_path):
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3, txns_per_chunk=4)
        # budget smaller than one chunk: first latestOffset stops mid-archive
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "3"})
        r.latestOffset()
        idx = [n for n in os.listdir(arch) if n.endswith(".idx")]
        assert idx == []  # chunk 0 abandoned mid-iteration: no stale index

    def test_indexed_scan_skips_head_chunk_bytes(self, tmp_path, monkeypatch):
        """THE asymptotic claim: once the cursor passes a chunk's max LSN,
        later batches never read that chunk's bytes again."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3, txns_per_chunk=4)
        warm = WalArchiveStreamReader({"path": arch, "readall": "true"})
        warm.latestOffset()  # writes all three sidecars

        reads: list[str] = []
        real = src._read_chunk_bytes

        def spy(fp):
            reads.append(os.path.basename(fp))
            return real(fp)

        monkeypatch.setattr(src, "_read_chunk_bytes", spy)
        # fresh reader, per-chunk-sized budget => one batch ~ one chunk
        r = WalArchiveStreamReader(
            {"path": arch, "maxrecordsperbatch": "8",
             "ackpath": str(tmp_path / "ack")}
        )
        rows, batches = _drain(r, arch)
        assert batches >= 3
        # per-chunk read counts are O(1), not O(batches): latestOffset +
        # read of the chunk's own batch + at most one boundary peek from the
        # previous batch's read (it must see one over-window frame to stop).
        from collections import Counter

        counts = Counter(reads)
        assert all(counts[c] <= 3 for c in counts), reads
        # chunk 0 can never be peeked into: scan + read only
        assert counts["000000.wal"] <= 2, reads
        # THE asymptotic claim, directly: a caught-up reader's next poll
        # reads zero chunk bytes — every chunk skips via its sidecar.
        reads.clear()
        r2 = WalArchiveStreamReader(
            {"path": arch, "maxrecordsperbatch": "8",
             "ackpath": str(tmp_path / "ack")}
        )
        end = r2.latestOffset()
        assert reads == [], reads
        assert end["lsn"] == rows[-1][4] or end["lsn"] >= rows[-1][4]

    def test_registry_and_txn_state_restored_across_skip(self, tmp_path):
        """read() on a window entirely inside chunk 2 must still know the
        relation (declared in chunk 0) and the open txn's xid when the
        window starts mid-transaction."""
        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        warm = WalArchiveStreamReader({"path": arch, "readall": "true"})
        warm.latestOffset()
        # chunk boundaries: find an LSN mid-chunk-2 (inside a txn): chunk 2
        # txns start after chunk 0 (1 + 2*4 frames) and chunk 1 (2*4).
        # Pick start just after chunk 2's first BEGIN+INSERT.
        c2_first = last - 2 * 4 + 1  # first lsn in chunk 2
        start = c2_first + 1  # after BEGIN (c2_first is BEGIN), after 1st insert?
        part = _WalPartition(arch, start_lsn=start, end_lsn=last)
        rows = list(WalArchiveStreamReader({"path": arch}).read(part))
        assert rows, "window should contain rows"
        for op, schema, table, rid, lsn, txn_id, cols in rows:
            assert schema == "public" and table == "t" and rid == 16384
            assert txn_id >= 200, rows  # chunk-2 xids; registry+txn restored

    def test_stale_sidecar_rescans_appended_chunk(self, tmp_path):
        """Chunks are append-only; a sidecar whose recorded size no longer
        matches must be ignored (full rescan), not trusted."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=1, txns_per_chunk=2)
        r = WalArchiveStreamReader({"path": arch, "readall": "true"})
        end1 = r.latestOffset()
        # append one more txn to the SAME chunk (legacy append path)
        lsn = end1["lsn"]
        frames = [(lsn + 1, encode_begin(lsn + 3, 0, 999)),
                  (lsn + 2, encode_insert(16384, ["999", "late"])),
                  (lsn + 3, encode_commit(lsn + 3, lsn + 3, 0))]
        write_wal_archive(arch, frames, chunk="000000.wal")
        end2 = r.latestOffset()
        assert end2["lsn"] == lsn + 3
        part = _WalPartition(arch, end1["lsn"], end2["lsn"])
        rows = list(WalArchiveStreamReader({"path": arch}).read(part))
        assert len(rows) == 1 and rows[0][0] == "I"
        assert rows[0][5] == 999 and rows[0][6] == {"id": "999", "v": "late"}

    def test_indexed_equals_unindexed_replay(self, tmp_path):
        """Byte-identical envelope output with and without sidecars."""
        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=3)
        part = _WalPartition(arch, -1, last)
        cold = list(WalArchiveStreamReader({"path": arch}).read(part))
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        warm = list(WalArchiveStreamReader({"path": arch}).read(part))
        assert cold == warm
        # and a mid-archive window (head chunks skipped via sidecars)
        mid = last // 2
        part2 = _WalPartition(arch, mid, last)
        direct = [r for r in cold if r[4] > mid]
        assert list(WalArchiveStreamReader({"path": arch}).read(part2)) == direct

    def test_sidecar_ignored_when_unparseable(self, tmp_path):
        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        with open(os.path.join(arch, "000000.wal.idx"), "w") as f:
            f.write("{corrupt")
        part = _WalPartition(arch, last - 1, last)
        rows = list(WalArchiveStreamReader({"path": arch}).read(part))
        assert len(rows) == len(
            [r for r in WalArchiveStreamReader({"path": arch}).read(
                _WalPartition(arch, -1, last)) if r[4] > last - 1]
        )

    def test_scan_state_contract(self, tmp_path):
        """scan_wal_messages updates txn state BEFORE each yield and on
        skips — the invariant both call sites rely on."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=1, txns_per_chunk=1)
        d = PgOutputDecoder()
        state = {"txn_open": False, "txn_id": -1}
        seen = []
        for lsn, msg in scan_wal_messages(arch, d, state):
            seen.append((type(msg).__name__, state["txn_open"], state["txn_id"]))
        # RELATION (None), BEGIN, 2 inserts, COMMIT
        assert seen[0] == ("NoneType", False, -1)
        assert seen[1] == ("TxBegin", True, 0)
        assert seen[2][1:] == (True, 0) and seen[3][1:] == (True, 0)
        assert seen[4] == ("TxCommit", False, -1)


class TestIndexThroughSparkStreaming:
    def test_real_streaming_query_writes_and_reuses_sidecars(
        self, spark, tmp_path
    ):
        """Bind the unit-level sidecar mechanics to the real engine: a
        Spark StreamingQuery over the pgcdc source (micro-batched, budget
        per chunk) must leave .idx sidecars behind, and a RESTARTED query
        from the same ack/checkpoint state must produce the same envelope
        rows it would have without the index (the e2e twin of
        test_indexed_equals_unindexed_replay). latestOffset runs in a
        Python worker, so the byte-level skip proof lives in the unit
        test; here we prove the engine-driven path exercises the same
        code and stays correct."""
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3, txns_per_chunk=4)
        spark.dataSource.register(PgCdcDataSource)
        q = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "8")  # ~one chunk per batch
            .load()
            .writeStream.format("memory")
            .queryName("walidx_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows1 = [
            (r.op, r.lsn, r.txn_id)
            for r in spark.sql(
                "select op, lsn, txn_id from walidx_stream order by lsn"
            ).collect()
        ]
        assert len(rows1) == 3 * 4 * 2  # every INSERT, exactly once
        idx = sorted(n for n in os.listdir(arch) if n.endswith(".idx"))
        assert idx, "engine-driven latestOffset wrote no sidecars"
        # restart after appending a new chunk: the indexed head chunks are
        # skipped (engine path), the tail decodes, nothing duplicates
        lsn = 10_000
        frames = [(lsn, encode_begin(lsn + 2, 0, 777)),
                  (lsn + 1, encode_insert(16384, ["777", "tail"])),
                  (lsn + 2, encode_commit(lsn + 2, lsn + 2, 0))]
        write_wal_archive(arch, frames, chunk="000003.wal")
        with open(os.path.join(arch, "_flushed_lsn")) as f:
            acked = json.load(f)["flushed_lsn"]  # q1's final ack
        # fresh checkpoint (the memory sink cannot recover one); restart
        # recovery flows through the ack file — slot semantics, the same
        # path cdc_stream_restart_recovery gates
        q2 = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "8")
            .load()
            .writeStream.format("memory")
            .queryName("walidx_stream2")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        rows2 = [
            (r.op, r.lsn, r.txn_id)
            for r in spark.sql(
                "select op, lsn, txn_id from walidx_stream2 order by lsn"
            ).collect()
        ]
        # at-least-once: the restart resumes from the ACKED flush LSN, so
        # an unacked tail (the final batch's commit can race q.stop()) may
        # replay — but nothing BEHIND the ack does, and the ack always
        # covers the fully-committed chunks 0-1, which the sidecar skip
        # path serves without decoding. The new tail row arrives exactly
        # once; txn ids prove no chunk-0/1 (xid < 200) rows re-emit.
        assert all(l > acked for _, l, _ in rows2), (acked, rows2)
        assert all(t >= 200 for _, _, t in rows2), rows2
        assert rows2.count(("I", lsn + 1, 777)) == 1
        assert rows2[-1] == ("I", lsn + 1, 777)


class TestArchiveRetention:
    def _replay(self, arch, start, end):
        return list(WalArchiveStreamReader({"path": arch}).read(
            _WalPartition(arch, start, end)))

    def test_prune_preserves_retained_window_replay(self, tmp_path):
        """Prune acked history; replaying the RETAINED window must produce
        byte-identical rows — including the relation metadata that only
        ever appeared in (now pruned) chunk 0."""
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        c2_first = last - 2 * 8  # lsn just before chunk 2 begins
        want = self._replay(arch, c2_first, last)
        stats = prune_wal_archive(arch, upto_lsn=c2_first)
        assert stats["pruned_chunks"] == 2 and stats["base_lsn"] <= c2_first
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left == ["000002.wal", "000003.wal"]
        got = self._replay(arch, c2_first, last)
        assert got == want
        for *_, rid, _l, _t, _c in [(r[0], r[3], r[4], r[5], r[6]) for r in got]:
            pass  # structure check above; registry proven by equality
        # and offset discovery over the pruned archive still works
        r = WalArchiveStreamReader(
            {"path": arch, "readall": "true",
             "ackpath": str(tmp_path / "ack2"), "startlsn": str(c2_first)}
        )
        end = r.latestOffset()
        assert end["lsn"] == last

    def test_prune_stops_at_unindexed_chunk(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        os.unlink(os.path.join(arch, "000001.wal.idx"))  # hole in the index
        stats = prune_wal_archive(arch, upto_lsn=last)
        assert stats["pruned_chunks"] == 1  # chunk 0 only; 1 blocked the rest
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left == ["000001.wal", "000002.wal"]

    def test_newest_chunk_never_pruned_and_numbering_continues(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import (
            prune_wal_archive,
            run_wal_relay,
        )

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=2, txns_per_chunk=1)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        stats = prune_wal_archive(arch, upto_lsn=last + 100)
        assert stats["pruned_chunks"] == 1  # chunk 1 is the newest: kept
        assert sorted(
            n for n in os.listdir(arch) if n.endswith(".wal")
        ) == ["000001.wal"]

        class _T:  # minimal transport: two frames, acks recorded
            def __init__(self):
                self.acked = []

            def frames(self):
                yield last + 1, encode_begin(last + 3, 0, 50)
                yield last + 2, encode_commit(last + 2, last + 2, 0)

            def ack(self, lsn):
                self.acked.append(lsn)

        run_wal_relay(_T(), arch, chunk_frames=10)
        assert sorted(
            n for n in os.listdir(arch) if n.endswith(".wal")
        ) == ["000001.wal", "000002.wal"]  # numbering continued, no reuse

    def test_prune_raises_on_directory_fsync_eio(self, tmp_path,
                                                 monkeypatch):
        """EIO from the directory fsync is lost writeback, not a missing
        capability: prune must raise, never report the chunks gone."""
        import errno
        import stat

        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        real_fsync = os.fsync

        def fsync(fd):
            if stat.S_ISDIR(os.fstat(fd).st_mode):
                raise OSError(errno.EIO, "injected EIO")
            real_fsync(fd)

        monkeypatch.setattr(os, "fsync", fsync)
        with pytest.raises(OSError) as exc:
            prune_wal_archive(arch, upto_lsn=last)
        assert exc.value.errno == errno.EIO

    def test_relay_fsyncs_archive_directory_before_ack(self, tmp_path,
                                                       monkeypatch):
        """A chunk's directory entry must be durable before the transport
        is acked, or a power cut can lose an acked chunk."""
        import stat

        from postgresql_cdc_spark.streaming.source import run_wal_relay

        arch = str(tmp_path / "wal")
        events = []
        real_fsync = os.fsync

        def fsync(fd):
            if stat.S_ISDIR(os.fstat(fd).st_mode):
                events.append("dir-fsync")
            real_fsync(fd)

        monkeypatch.setattr(os, "fsync", fsync)

        class _T:
            def frames(self):
                yield 1, encode_begin(2, 0, 50)
                yield 2, encode_commit(2, 2, 0)
                yield 3, encode_begin(4, 0, 51)
                yield 4, encode_commit(4, 4, 0)

            def ack(self, lsn):
                events.append(("ack", lsn))

        assert run_wal_relay(_T(), arch, chunk_frames=2) == 4
        assert events == ["dir-fsync", ("ack", 2), "dir-fsync", ("ack", 4)]

    def test_prune_defaults_to_ack_file(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "4"})
        _rows, _batches = _drain(r, arch)  # acks as it goes
        stats = prune_wal_archive(arch)  # upto = flushed LSN from ack file
        assert stats["pruned_chunks"] >= 1
        # no ack file at all -> refuses to prune anything
        arch2 = str(tmp_path / "wal2")
        _mk_archive(arch2, n_chunks=2)
        assert prune_wal_archive(arch2)["pruned_chunks"] == 0


class TestRetentionSafety:
    """r12 advice fixes: shared-archive prune safety + pruned-history
    detection + concurrent-prune read race."""

    def test_prune_default_is_min_over_all_slot_acks(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        with open(os.path.join(arch, "000000.wal.idx")) as f:
            c0_max = json.load(f)["max_lsn"]
        # fast consumer fully caught up; slow slot parked at end of chunk 0
        for name, lsn in (("_flushed_lsn", last), ("_flushed_lsn_slow", c0_max)):
            with open(os.path.join(arch, name), "w") as f:
                json.dump({"flushed_lsn": lsn}, f)
        stats = prune_wal_archive(arch)  # default = min over ALL acks
        assert stats["pruned_chunks"] == 1  # chunk 0 only — slow slot bounds it
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left == ["000001.wal", "000002.wal", "000003.wal"]

    def test_prune_refuses_on_unreadable_slot_ack(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        with open(os.path.join(arch, "_flushed_lsn"), "w") as f:
            json.dump({"flushed_lsn": last}, f)
        with open(os.path.join(arch, "_flushed_lsn_corrupt"), "w") as f:
            f.write("{not json")  # a consumer whose position is UNKNOWN
        stats = prune_wal_archive(arch)
        assert stats["pruned_chunks"] == 0  # refuse rather than guess
        # explicit upto_lsn still overrides (external-coordinator path)
        assert prune_wal_archive(arch, upto_lsn=last)["pruned_chunks"] == 2

    def test_cursor_below_retention_head_raises(self, tmp_path):
        """A checkpointed cursor strictly inside pruned history must fail
        loudly (PostgreSQL's 'requested WAL segment has already been
        removed'), not silently emit only the retained rows."""
        from postgresql_cdc_spark.sources.pgoutput import ProtocolError
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        c2_first = last - 2 * 8
        stats = prune_wal_archive(arch, upto_lsn=c2_first)
        base = stats["base_lsn"]
        assert base is not None and base > 0
        d = PgOutputDecoder()
        with pytest.raises(ProtocolError, match="already been removed"):
            list(scan_wal_messages(arch, d, {"txn_open": False, "txn_id": -1},
                                   skip_upto_lsn=base - 1))
        # exactly-at-head cursor is fine: nothing it needs was pruned
        rows = list(scan_wal_messages(
            arch, PgOutputDecoder(), {"txn_open": False, "txn_id": -1},
            skip_upto_lsn=base))
        assert rows and all(l > base for l, _ in rows)

    def test_fresh_replay_of_pruned_archive_warns(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        prune_wal_archive(arch, upto_lsn=last)  # keeps only the newest chunk
        d = PgOutputDecoder()
        with pytest.warns(UserWarning, match="retention head"):
            rows = list(scan_wal_messages(
                arch, d, {"txn_open": False, "txn_id": -1}))
        assert rows  # retained window still replays (registry via snapshot)

    def test_concurrent_prune_mid_scan_skips_vanished_chunk(self, tmp_path):
        """A chunk unlinked by prune between listdir and open must not fail
        the read task: the head snapshot (fsynced before deletion) covers
        the vanished frames, so the scan adopts it and keeps going."""
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        with open(os.path.join(arch, "000000.wal.idx")) as f:
            c0_max = json.load(f)["max_lsn"]
        with open(os.path.join(arch, "000001.wal.idx")) as f:
            c1_max = json.load(f)["max_lsn"]
        d = PgOutputDecoder()
        state = {"txn_open": False, "txn_id": -1}
        gen = scan_wal_messages(arch, d, state)
        got = []
        for lsn, msg in gen:
            got.append(lsn)
            if lsn == c0_max:
                break  # suspended inside chunk 0; chunks 1-2 unopened
        # prune chunks 0+1 out from under the suspended scan
        stats = prune_wal_archive(arch, upto_lsn=c1_max)
        assert stats["pruned_chunks"] == 2
        with pytest.warns(UserWarning, match="retention head"):
            for lsn, msg in gen:
                got.append(lsn)
        assert got[-1] == last  # chunk 2 decoded fine past the vanished chunk
        assert all(l > c1_max for l in got if l > c0_max)  # no partial chunk 1
        assert state["max_lsn"] == last

    def test_vanished_chunk_without_snapshot_raises(self, tmp_path):
        """Real I/O loss (a chunk gone with NO retention snapshot to explain
        it) must still fail the task — the skip path is prune-race only."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=3, txns_per_chunk=2)
        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        with open(os.path.join(arch, "000000.wal.idx")) as f:
            c0_max = json.load(f)["max_lsn"]
        d = PgOutputDecoder()
        gen = scan_wal_messages(arch, d, {"txn_open": False, "txn_id": -1})
        for lsn, _ in gen:
            if lsn == c0_max:
                break
        os.unlink(os.path.join(arch, "000001.wal"))
        os.unlink(os.path.join(arch, "000001.wal.idx"))
        with pytest.raises(OSError):
            list(gen)
