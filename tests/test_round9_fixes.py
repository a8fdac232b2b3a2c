"""Round-9 hardening (ADVICE r08): the accelerated FLAC Rice reader
must accept a zero-sample partition (legal per RFC 9639 when
blocksize>>porder == predictor order); the vectorized IMA ADPCM block
decode must fall back to the tolerant scalar walker on a nonconforming
foreign block_align; and an EXPLICIT consume_begin source that
conflicts with the persisted pump/datasource resolution must be
refused instead of silently switching checkpoint domains."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tests.test_kinesis_datasource import wire  # noqa: F401 — fixture


# ------------------------------------------------- FLAC zero-count Rice


class TestRiceZeroCount:
    def _reader(self, buf: bytes):
        from pipeline_kinesis_spark.operators.flac import (
            _BitReader,
            _DecodeAccel,
        )

        return _BitReader(buf, accel=_DecodeAccel(buf))

    def test_zero_count_returns_empty_consumes_nothing(self):
        """The advisor's repro: read_rice(0, 3) crashed with
        IndexError (starts[0] on an empty array). A first Rice
        partition with blocksize>>porder == predictor order has zero
        samples, legal per RFC 9639 §9.2.7."""
        r = self._reader(bytes([0b10110100, 0xFF]))
        assert r.read_rice(0, 3) == []
        assert (r.byte, r.bit) == (0, 0)  # no bits consumed
        # the stream is intact: the next real read sees bit 0 = 1
        assert r.read(1) == 1

    @pytest.mark.parametrize("param", [0, 3])
    def test_zero_count_then_codes(self, param):
        """A zero-sample partition followed by a populated one decodes
        the populated one exactly as if the empty call never
        happened."""
        from pipeline_kinesis_spark.operators.flac import _BitReader

        payload = bytes([0b01011011, 0b01101011, 0b11000000])
        fast = self._reader(payload)
        slow = _BitReader(payload)  # accel=None → per-bit loop
        assert fast.read_rice(0, param) == []
        assert slow.read_rice(0, param) == []
        assert fast.read_rice(4, 1) == slow.read_rice(4, 1)
        assert (fast.byte, fast.bit) == (slow.byte, slow.bit)

    def test_zero_sample_first_partition_stream_decodes(self):
        """End-to-end guard: an encoded stream still round-trips after
        the guard (no behavior change on conforming files)."""
        from pipeline_kinesis_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        rng = np.random.default_rng(5)
        s = rng.integers(-3000, 3000, size=1024).astype(np.int16)
        rate, got = decode_flac(encode_flac(44100, s))
        assert rate == 44100
        np.testing.assert_array_equal(got.reshape(-1), s)


# ------------------------------------------------- IMA ragged block_align


def _wav_ima_raw(
    rate: int, blocks: list[bytes], block_align: int, spb: int,
    n_total: int, channels: int = 1,
) -> bytes:
    """Hand-rolled fmt-0x11 RIFF container around pre-built block
    bytes — lets a test plant a block_align the in-repo encoder
    (which enforces conformance) refuses to emit."""
    body = b"".join(blocks)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, channels, rate,
        rate * block_align // spb, block_align, 4, 2, spb,
    )
    chunks = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"fact" + struct.pack("<II", 4, n_total)
    chunks += b"data" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks) - 4) + chunks


class TestImaRaggedBlockAlign:
    def test_nonconforming_block_align_decodes_via_scalar(self):
        """ADVICE r08 low: block_align=10 mono (body 6 bytes, not a
        multiple of 4) made the vectorized reshape raise ValueError;
        the scalar walker decodes the partial trailing group
        tolerantly. The fallback must reproduce the scalar result."""
        from pipeline_kinesis_spark.operators.multimodal import (
            _ima_decode_block,
            decode_media,
        )

        block_align, spb = 10, 13  # 1 header + 6 bytes * 2 nibbles
        rng = np.random.default_rng(11)
        blocks = []
        for _ in range(3):
            hdr = struct.pack("<hBB", int(rng.integers(-500, 500)), 4, 0)
            blocks.append(hdr + bytes(rng.integers(0, 256, size=6).tolist()))
        n_total = 3 * spb
        wav = _wav_ima_raw(8000, blocks, block_align, spb, n_total)
        rate, got = decode_media(wav)
        assert rate == 8000
        got = got.reshape(-1)
        want = np.concatenate(
            [
                np.asarray(_ima_decode_block(b, spb, 1)[0], dtype=np.int64)
                for b in blocks
            ]
        )
        np.testing.assert_array_equal(got.astype(np.int64), want)

    def test_nonconforming_stereo_block_align(self):
        """Stereo variant: body 24 bytes with 4*ch=8 → 24 % 8 == 0 is
        conforming, so use body 20 (20 % 8 == 4, ragged)."""
        from pipeline_kinesis_spark.operators.multimodal import (
            _ima_decode_block,
            decode_media,
        )

        ch, block_align = 2, 28  # header 8 + body 20, 20 % 8 != 0
        spb = 11  # 1 header + 2 full groups (8 nibbles/ch), rest unused
        rng = np.random.default_rng(12)
        blk = b""
        for c in range(ch):
            blk += struct.pack("<hBB", int(rng.integers(-500, 500)), 3, 0)
        blk += bytes(rng.integers(0, 256, size=20).tolist())
        n_total = 2 * spb
        wav = _wav_ima_raw(8000, [blk, blk], block_align, spb, n_total, ch)
        rate, got = decode_media(wav)
        got = got.reshape(-1, ch)
        dec = _ima_decode_block(blk, spb, ch)
        want = np.stack(
            [np.asarray(dec[c], dtype=np.int64)[:spb] for c in range(ch)],
            axis=1,
        )
        want = np.concatenate([want, want])
        np.testing.assert_array_equal(got[: len(want)].astype(np.int64), want)

    def test_conforming_block_align_still_vectorized(self):
        """The fast path is untouched for conforming files: encoder
        output (block_align=256) still round-trips bit-exactly against
        the scalar reference."""
        from pipeline_kinesis_spark.operators.multimodal import (
            _ima_decode_block,
            decode_media,
            encode_wav_ima,
        )

        t = np.arange(1500)
        s = (9000 * np.sin(2 * np.pi * 330 * t / 16000)).astype(np.int16)
        wav = encode_wav_ima(16000, s)
        rate, got = decode_media(wav)
        got = got.reshape(-1)
        assert got.shape == s.shape
        # scalar reference over the same container
        pos = wav.index(b"data") + 8
        block_align, spb = 256, (256 - 4) * 2 + 1
        body = wav[pos:]
        want = []
        for b0 in range(0, (len(s) + spb - 1) // spb * block_align,
                        block_align):
            want += _ima_decode_block(
                body[b0 : b0 + block_align], spb, 1
            )[0]
        np.testing.assert_array_equal(
            got.astype(np.int64), np.asarray(want[: len(s)])
        )


# ------------------------------------------------- explicit source conflict


class TestExplicitSourceConflict:
    def _wire_engine(self, spark, wire, tmp_path):
        from pipeline_kinesis_spark.engine import Engine

        fake, url, cred = wire
        eng = Engine(
            spark,
            metadata_dir=str(tmp_path / "meta"),
            trigger_interval="300 milliseconds",
        )
        eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
        eng.create_stream("k_in", "k STRING, v BIGINT")
        return eng, fake

    def test_explicit_pump_after_datasource_refused(
        self, spark, wire, tmp_path
    ):
        """ADVICE r08 low: explicitly passing source='pump' when the
        catalog resolved 'datasource' must raise, not silently restart
        on checkpoints the pump path never wrote (duplicate ingest)."""
        eng, fake = self._wire_engine(spark, wire, tmp_path)
        eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="datasource",
        )
        eng.wait_for_ingest(timeout_s=120)
        eng.consume_end_all()
        with pytest.raises(ValueError, match="previously ingested via"):
            eng.consume_begin(
                "ep", "events", "k_in", fmt="csv", delimiter=",",
                source="pump",
            )
        # the persisted resolution is intact and auto still restarts
        assert (
            eng.catalog.find_consumer("ep", "events", "k_in").source
            == "datasource"
        )
        c = eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="auto",
        )
        try:
            assert c.id in eng.datasource_status()
            assert not eng.pump_status()
        finally:
            eng.consume_end_all()

    def test_explicit_datasource_after_pump_refused(
        self, spark, wire, tmp_path
    ):
        eng, fake = self._wire_engine(spark, wire, tmp_path)
        eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="pump",
        )
        eng.wait_for_ingest(timeout_s=120)
        eng.consume_end_all()
        with pytest.raises(ValueError, match="previously ingested via"):
            eng.consume_begin(
                "ep", "events", "k_in", fmt="csv", delimiter=",",
                source="datasource",
            )

    def test_matching_explicit_source_restarts(self, spark, wire, tmp_path):
        """Re-passing the SAME explicit source is fine — same
        checkpoint domain, no duplicate window."""
        eng, fake = self._wire_engine(spark, wire, tmp_path)
        eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="datasource",
        )
        eng.wait_for_ingest(timeout_s=120)
        assert eng.stream_table("k_in").count() == 3
        eng.consume_end_all()
        fake.append("shardId-000", b"z,7")
        c = eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="datasource",
        )
        try:
            assert c.id in eng.datasource_status()
            eng.wait_for_ingest(timeout_s=120)
            seqs = [
                r.sequence_number
                for r in eng.stream_table("k_in").collect()
            ]
            assert len(seqs) == 4 and len(set(seqs)) == 4
        finally:
            eng.consume_end_all()


class TestCompactBatchError:
    """foreachBatch failures must re-raise with a BOUNDED message.

    Spark's stop classifier (StreamExecution.isInterruptionException)
    runs `py4j.protocol.Py4JJavaError: An error occurred while
    calling((.|\\r\\n|\\r|\\n)*)(java.lang.InterruptedException|...)`
    over the error text; the any-char loop recurses per character, so
    a py4j error embedding a full Java stack (tens of kB) overflows
    the JVM stack and kills the stream-execution thread mid-stop
    (observed as flaky kill/resume tests: the thread died instead of
    concluding "graceful stop")."""

    def test_long_message_truncated_marker_preserved(self):
        from pipeline_kinesis_spark.engine import (
            _STREAM_ERR_HEAD,
            _raise_compact_batch_error,
        )

        class Py4JJavaError(Exception):
            pass

        big = (
            "An error occurred while calling o310.json.\n"
            ": java.lang.InterruptedException\n"
            + "\tat org.x.Y.z(F.java:1)\n" * 3000
        )
        with pytest.raises(RuntimeError) as ei:
            _raise_compact_batch_error(Py4JJavaError(big))
        m = str(ei.value)
        assert len(m) < _STREAM_ERR_HEAD + 200
        # the classifier's two anchors sit in the short head
        assert "Py4JJavaError: An error occurred while calling" in m[:120]
        assert "java.lang.InterruptedException" in m[:300]
        # no chained context to reinflate the formatted traceback
        assert ei.value.__cause__ is None
        assert ei.value.__suppress_context__

    def test_marker_outside_head_is_appended(self):
        from pipeline_kinesis_spark.engine import _raise_compact_batch_error

        big = "x" * 5000 + " java.io.InterruptedIOException tail"
        with pytest.raises(RuntimeError) as ei:
            _raise_compact_batch_error(ValueError(big))
        assert "java.io.InterruptedIOException" in str(ei.value)

    def test_short_message_reraised_unchanged(self):
        from pipeline_kinesis_spark.engine import _raise_compact_batch_error

        e = ValueError("small")
        with pytest.raises(ValueError) as ei:
            _raise_compact_batch_error(e)
        assert ei.value is e

    def test_guarded_batch_passthrough_and_guard(self):
        from pipeline_kinesis_spark.engine import _guarded_batch

        calls = []

        @_guarded_batch
        def ok(bdf, bid):
            calls.append((bdf, bid))
            return "r"

        assert ok("df", 7) == "r" and calls == [("df", 7)]

        @_guarded_batch
        def boom(bdf, bid):
            raise RuntimeError("y" * 10000)

        with pytest.raises(RuntimeError) as ei:
            boom("df", 8)
        assert len(str(ei.value)) < 2300
