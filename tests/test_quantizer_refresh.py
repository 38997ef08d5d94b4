"""Qualitative pin of the quantizer-refresh gate
(plans/streaming_gate.cdc_stream_ivf_quantizer_refresh): the oracle gate
proves the NUMBERS; this proves the STORY — under injected drift the
frozen generation-1 quantizer's health degrades and the retrain + swap +
re-encode recovers it — and that the swap actually swept the old
quantizer generation."""

from __future__ import annotations

import os


class TestQuantizerRefresh:
    def test_gen2_recovers_health_and_gen1_is_swept(self, spark):
        from postgresql_cdc_spark.plans import QUERIES

        df = QUERIES["cdc_stream_ivf_quantizer_refresh"].spark(
            spark, "/root/testdata/sf0.001"
        )
        rows = {r.generation: r for r in df.collect()}
        assert set(rows) == {1, 2}
        g1, g2 = rows[1], rows[2]
        # the k-means objective must collapse after retraining on the
        # drifted corpus (measured ~18-25x at the two SFs; 4x is a loose
        # floor that still fails if the re-encode silently no-ops)
        assert g1.distortion_sum > 4 * g2.distortion_sum, (g1, g2)
        # the serve-latency tail (max cell) must shrink
        assert g1.max_cell_rows > g2.max_cell_rows, (g1, g2)
        # probing must not get more expensive after the swap
        assert g2.probe_scan_rows <= g1.probe_scan_rows, (g1, g2)

        # the swap swept generation 1: exactly one quant_v dir remains.
        # The gate records its state dir in LAST_STATE_DIR — globbing the
        # shared temp root could match a stale dir from an earlier failed
        # or concurrent run (r15 advice).
        from postgresql_cdc_spark.plans import streaming_gate

        state = streaming_gate.LAST_STATE_DIR
        assert state is not None and os.path.isdir(state), state
        quants = sorted(
            n for n in os.listdir(state) if n.startswith("quant_v")
        )
        assert quants == ["quant_v2"], quants
