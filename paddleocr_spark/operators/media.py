"""Real audio/video decode operators over opaque binary columns.

No codec LIBRARY ships with this package — but several production
container formats need none: RIFF/WAVE PCM (audio) and YUV4MPEG2 / .y4m
(raw video) are pure struct/ASCII layouts, GIF's LZW is implementable
directly, and baseline JPEG needs only Huffman + IDCT (kernels/jpeg.py). This module implements genuine byte-level
decoders with stdlib+numpy only — including a full variable-width
GIF-LZW codec and the T.81 baseline JPEG path — so the multimodal
family's decode stage is real end-to-end for uncompressed, LZW- and
DCT-compressed media. The remaining codecs (MPEG audio synthesis,
h264 pixels) would need soundfile/PyAV and are out of scope.

Pipeline shape (the part that matters at 100 TB): payloads stay opaque
bytes through the scan; decode happens inside one Arrow-batched
`frames.map_rows` map; features are integer-exact accumulations (sum
of squares / sum of luma as int64) so the strict DuckDB oracle reproduces them
closed-form from the deterministic fixture synthesis.

Fixture synthesis (same policy as sources/pages.py: derive everything
from doc_id):
- audio: 16-bit mono PCM, rate 8000, n = 64 + doc_id%64 samples,
  sample[i] = (doc_id*31 + i*17) % 2048 - 1024.
- video: W=8, H=4, n_frames = 2 + doc_id%4, C420-less mono plane
  (luma only in our synthesis uses YUV4MPEG2 'Cmono'),
  luma[f][p] = (doc_id*13 + f*7 + p) % 256.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame, SparkSession

from paddleocr_spark.frames import map_rows, union_branches
from paddleocr_spark.sources.scan import scan_parquet

# ---------------------------------------------------------------------------
# RIFF/WAVE PCM

_RATE = 8000


def wav_encode_pcm16(samples: list[int], rate: int = _RATE) -> bytes:
    """Minimal canonical RIFF/WAVE: 'fmt ' (PCM, mono, 16-bit) + 'data'."""
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) from RIFF/WAVE PCM16 mono bytes. A real
    chunk walk: tolerates extra chunks (LIST/fact), validates magic,
    format tag, depth."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = None
    samples: list[int] | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            tag, channels, rate, _, _, depth = struct.unpack("<HHIIHH", body[:16])
            if tag != 1 or channels != 1 or depth != 16:
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            samples = [
                struct.unpack("<h", body[i : i + 2])[0]
                for i in range(0, len(body) - len(body) % 2, 2)
            ]
        pos += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


def synth_wav(doc_id: int) -> bytes:
    n = 64 + doc_id % 64
    return wav_encode_pcm16(
        [(doc_id * 31 + i * 17) % 2048 - 1024 for i in range(n)]
    )


# ---------------------------------------------------------------------------
# IMA ADPCM (WAV format tag 0x11) — a REAL compressed audio codec for
# the corpus path: 4-bit adaptive differential PCM with the public IMA
# step/index tables, Microsoft WAV block layout (4-byte block header =
# exact predictor int16 + step index, then low-nibble-first 4-bit
# codes). Narrows the compressed-AV swap point: mp3/h264 stay
# documented stubs (multimodal.py), but the audio side of a crawl is
# now decodable without PCM16 assumptions.
# ---------------------------------------------------------------------------

_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One decoder step (the encoder mirrors it exactly): returns the
    new (predictor, step index) after applying a 4-bit code."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble & 7]))
    return pred, index


def adpcm_encode(
    samples: list[int], rate: int = _RATE, block_samples: int = 129
) -> bytes:
    """RIFF/WAVE, format tag 0x11 (IMA ADPCM), mono. Each block stores
    its first sample EXACTLY in the header (predictor seed), then 4-bit
    codes for the remaining block_samples-1 samples, low nibble first;
    block_samples must be odd so codes pack into whole bytes."""
    if block_samples % 2 == 0:
        raise ValueError("block_samples must be odd (whole-byte packing)")
    block_align = 4 + (block_samples - 1) // 2
    index = 0
    blocks = []
    total = len(samples)
    for b0 in range(0, total, block_samples):
        chunk = samples[b0 : b0 + block_samples]
        pred = max(-32768, min(32767, int(chunk[0])))
        blk = bytearray(struct.pack("<hBB", pred, index, 0))
        nibbles = []
        for s in chunk[1:]:
            step = _IMA_STEP_TABLE[index]
            diff = int(s) - pred
            nibble = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                nibble |= 4
                diff -= step
            if diff >= step >> 1:
                nibble |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nibble |= 1
            pred, index = _ima_step(pred, index, nibble)
            nibbles.append(nibble)
        if len(nibbles) % 2:
            nibbles.append(0)  # short final block: pad nibble
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blk.append(lo | (hi << 4))
        blk.extend(b"\x00" * (block_align - len(blk)))  # short final block
        blocks.append(bytes(blk))
    data = b"".join(blocks)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // block_samples,
        block_align, 4, 2, block_samples,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, total)
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def adpcm_decode(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) from a WAV IMA-ADPCM (tag 0x11) mono
    payload; the 'fact' chunk's sample count trims final-block padding."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = block_align = block_samples = None
    total = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            tag, channels, rate, _, block_align, depth = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag != 0x11 or channels != 1 or depth != 4:
                raise ValueError("only mono 4-bit IMA ADPCM supported")
            (block_samples,) = struct.unpack("<H", body[18:20])
        elif cid == b"fact":
            (total,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if rate is None or data is None or block_samples is None:
        raise ValueError("missing fmt/data chunk")
    out: list[int] = []
    for b0 in range(0, len(data), block_align):
        blk = data[b0 : b0 + block_align]
        pred, index, _ = struct.unpack("<hBB", blk[:4])
        if index > 88:
            raise ValueError("step index out of range")
        out.append(pred)
        for byte in blk[4:]:
            for nibble in (byte & 0x0F, byte >> 4):
                pred, index = _ima_step(pred, index, nibble)
                out.append(pred)
    if total is not None:
        out = out[:total]
    return rate, out


ADPCM_TOL = 48  # max |reconstruction error| on the fixture family:
# measured 34 across all 5,000 sf0.01 docs (triangle wave, slew 37/sample)


def synth_adpcm_samples(doc_id: int) -> list[int]:
    """Closed-form triangle wave (SQL-expressible block-start values):
    slew 37/sample keeps the 4-bit quantizer tracking tightly."""
    n = 200 + doc_id % 100
    return [
        abs((doc_id * 13 + i * 37) % 4000 - 2000) - 1000 for i in range(n)
    ]


VAD_THRESHOLD = 512  # |sample| at/above which a sample counts as voiced
VAD_MIN_RUN = 4      # shortest emitted segment, in samples


def vad_segments(
    samples: list[int],
    threshold: int = VAD_THRESHOLD,
    min_run: int = VAD_MIN_RUN,
) -> list[tuple[int, int, int, int]]:
    """Energy-threshold voice-activity detection over decoded PCM: the
    maximal runs of |sample| >= threshold, kept when at least min_run
    long, as (start, end_exclusive, max_abs, sum_abs) in sample order —
    the segmentation step an ASR-training pipeline runs to cut long
    audio into utterances before transcription."""
    segs: list[tuple[int, int, int, int]] = []
    start = None
    mx = sa = 0
    for i, x in enumerate(list(samples) + [0]):  # sentinel closes tail
        a = abs(x)
        if a >= threshold:
            if start is None:
                start, mx, sa = i, 0, 0
            mx = max(mx, a)
            sa += a
        elif start is not None:
            if i - start >= min_run:
                segs.append((start, i, mx, sa))
            start = None
    return segs


# ---------------------------------------------------------------------------
# MPEG-1 Audio Layer I (ISO/IEC 11172-3) — the "mp3 family" swap point.
#
# A from-scratch Layer I bitstream codec: real 32-bit frame header
# (syncword / ID / layer / protection / bitrate index / sampling
# frequency / mode), 32x4-bit allocation table, 6-bit scalefactor
# indices from the standard's closed-form table (2.0 * 2^(-idx/3)),
# the standard's midtread dequantizer
#     s'' = (2^nb / (2^nb - 1)) * (s''' + 2^(1-nb))
# over MSB-inverted two's-complement fraction codes (the all-ones code
# is never sent — 2^nb - 1 steps, so |s''| < 1), and whole-slot (4-byte)
# frame alignment. Free-format bitrate (index 0) keeps the synthetic
# frames honest: the decoder derives the frame length from the parsed
# structure the way a free-format decoder must, not from a bitrate
# table the fixture couldn't hit exactly.
#
# What stays OUT of scope (documented swap point, narrowed from "no
# mpeg audio at all"): the 512-tap synthesis window of Annex 3-B.3 is a
# numerically-optimized table with no closed form, so PCM synthesis —
# and with it Layer II/III — still needs a real codec library. The
# codec here covers everything a corpus pipeline does with MPEG audio
# short of playback: framing, header fields, allocation/scalefactor
# parsing, and exact subband-sample recovery bounds.

MP3_SUBBANDS = 32
MP3_GRANULE = 12  # samples per subband per Layer I frame
_MP3_RATES = (44100, 48000, 32000)  # sampling_frequency code 0/1/2


def _mp3_sf_value(idx: int) -> float:
    """Scalefactor table 3-B.1: 2.0 * 2^(-idx/3), idx 0..62."""
    return 2.0 * 2.0 ** (-idx / 3.0)


def _mp3_sf_index(peak: float) -> int:
    """Smallest index whose scalefactor still covers |s| <= peak
    (indices grow toward SMALLER scalefactors)."""
    idx = 0
    while idx < 62 and _mp3_sf_value(idx + 1) > peak:
        idx += 1
    return idx


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, bits: int) -> None:
        self._acc = (self._acc << bits) | (value & ((1 << bits) - 1))
        self._n += bits
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def align(self, bytes_multiple: int) -> None:
        if self._n:
            self.put(0, 8 - self._n)
        while len(self.buf) % bytes_multiple:
            self.buf.append(0)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bitpos = pos * 8

    def get(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            byte = self.data[self.bitpos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return out

    def align(self, bytes_multiple: int) -> None:
        self.bitpos = (self.bitpos + 7) & ~7
        mult = bytes_multiple * 8
        self.bitpos = (self.bitpos + mult - 1) // mult * mult


def layer1_encode(
    frames: list[list[list[float]]],
    alloc: list[int],
    rate: int = 44100,
) -> bytes:
    """frames: per frame, 32 subbands x 12 samples in (-1, 1); alloc:
    per-subband sample bits (0 = subband not transmitted, else 2..15).
    Emits one free-format Layer I frame per entry."""
    sf_code = _MP3_RATES.index(rate)
    out = bytearray()
    for frame in frames:
        w = _BitWriter()
        w.put(0xFFF, 12)       # syncword
        w.put(1, 1)            # ID: MPEG-1
        w.put(0b11, 2)         # layer I
        w.put(1, 1)            # protection_bit: no CRC
        w.put(0, 4)            # bitrate_index: free format
        w.put(sf_code, 2)      # sampling_frequency
        w.put(0, 1)            # padding
        w.put(0, 1)            # private
        w.put(0b11, 2)         # mode: single_channel
        w.put(0, 2)            # mode_extension
        w.put(0, 1)            # copyright
        w.put(1, 1)            # original
        w.put(0, 2)            # emphasis
        for sb in range(MP3_SUBBANDS):
            nb = alloc[sb]
            if nb and not 2 <= nb <= 15:
                raise ValueError(f"allocation {nb} out of Layer I range")
            w.put(nb - 1 if nb else 0, 4)  # code 0 | nb-1 (1..14)
        sf_idx = []
        for sb in range(MP3_SUBBANDS):
            if alloc[sb]:
                peak = max(abs(s) for s in frame[sb])
                idx = _mp3_sf_index(peak)
                sf_idx.append(idx)
                w.put(idx, 6)
        k = 0
        for t in range(MP3_GRANULE):
            k = 0
            for sb in range(MP3_SUBBANDS):
                nb = alloc[sb]
                if not nb:
                    continue
                sf = _mp3_sf_value(sf_idx[k])
                k += 1
                x = frame[sb][t] / sf
                # inverse of the 2.4.3.3 dequantizer: code c in
                # [0, 2^nb - 2] (all-ones never sent), MSB inverted
                c = round((x * (2**nb - 1) / (2**nb) + 1.0) * 2 ** (nb - 1) - 1.0)
                c = max(0, min(2**nb - 2, int(c)))
                w.put(c ^ (1 << (nb - 1)), nb)
        w.align(4)  # Layer I slot = 32 bits
        out.extend(w.buf)
    return bytes(out)


def layer1_decode(
    payload: bytes,
) -> tuple[int, list[tuple[list[int], list[int], list[list[float]]]]]:
    """(sample_rate, frames) where each frame is (alloc, sf_idx,
    subbands[32][12]); non-transmitted subbands decode to 0.0. Frame
    length is derived from the parsed structure + slot alignment (the
    free-format contract); each subsequent frame must re-sync."""
    frames = []
    rate = None
    r = _BitReader(payload)
    total_bits = len(payload) * 8
    while r.bitpos + 32 <= total_bits:
        if r.get(12) != 0xFFF:
            raise ValueError("lost sync between Layer I frames")
        if r.get(1) != 1:
            raise ValueError("not MPEG-1")
        if r.get(2) != 0b11:
            raise ValueError("not Layer I")
        r.get(1)  # protection
        if r.get(4) != 0:
            raise ValueError("fixture frames are free-format")
        sf_code = r.get(2)
        if sf_code > 2:
            raise ValueError("reserved sampling frequency")
        this_rate = _MP3_RATES[sf_code]
        if rate is None:
            rate = this_rate
        elif rate != this_rate:
            raise ValueError("sampling frequency changed mid-stream")
        r.get(1 + 1)  # padding + private
        if r.get(2) != 0b11:
            raise ValueError("only single_channel supported")
        r.get(2 + 1 + 1 + 2)  # mode_ext/copyright/original/emphasis
        alloc = []
        for _sb in range(MP3_SUBBANDS):
            code = r.get(4)
            if code == 15:
                raise ValueError("forbidden allocation code 15")
            alloc.append(code + 1 if code else 0)
        sf_idx = [r.get(6) for sb in range(MP3_SUBBANDS) if alloc[sb]]
        if any(i > 62 for i in sf_idx):
            raise ValueError("scalefactor index out of table")
        sub = [[0.0] * MP3_GRANULE for _ in range(MP3_SUBBANDS)]
        for t in range(MP3_GRANULE):
            k = 0
            for sb in range(MP3_SUBBANDS):
                nb = alloc[sb]
                if not nb:
                    continue
                c = r.get(nb) ^ (1 << (nb - 1))  # undo MSB inversion
                frac = -1.0 + c * 2.0 ** (1 - nb)  # two's-compl fraction
                s2 = (2**nb / (2**nb - 1.0)) * (frac + 2.0 ** (1 - nb))
                sub[sb][t] = s2 * _mp3_sf_value(sf_idx[k])
                k += 1
        r.align(4)
        frames.append((alloc, sf_idx, sub))
    if rate is None:
        raise ValueError("no Layer I frame in payload")
    return rate, frames


# Fixture: integer lattice scaled into (-1, 1) so the oracle's
# aggregates stay integer-exact while the codec runs on real fractions.
MP3_RAW_MOD, MP3_RAW_SCALE = 2001, 1024  # raw in [-1000, 1000] -> /1024


def synth_layer1_frames(
    doc_id: int,
) -> tuple[list[list[list[float]]], list[int], int]:
    """(frames, alloc, n_frames): n_frames = 1 + d%3 frames of
    raw(f, sb, t) = ((d*7 + f*31 + sb*13 + t*29) % 2001) - 1000 over
    the first 8 + d%25 subbands, alloc(sb) = 2 + (d + sb) % 9 bits."""
    d = int(doc_id)
    n_frames = 1 + d % 3
    n_active = 8 + d % 25
    alloc = [
        (2 + (d + sb) % 9) if sb < n_active else 0
        for sb in range(MP3_SUBBANDS)
    ]
    frames = [
        [
            [
                ((d * 7 + f * 31 + sb * 13 + t * 29) % MP3_RAW_MOD - 1000)
                / MP3_RAW_SCALE
                for t in range(MP3_GRANULE)
            ]
            for sb in range(MP3_SUBBANDS)
        ]
        for f in range(n_frames)
    ]
    return frames, alloc, n_frames


def mp3_frame_bytes(doc_id: int) -> int:
    """Closed-form encoded size of one fixture frame: header 32 +
    alloc 32*4 + scalefactors 6*n_active + samples 12*sum(nb), rounded
    up to whole 32-bit slots."""
    d = int(doc_id)
    n_active = 8 + d % 25
    bits = 32 + MP3_SUBBANDS * 4 + 6 * n_active
    bits += MP3_GRANULE * sum(2 + (d + sb) % 9 for sb in range(n_active))
    return (bits + 31) // 32 * 4


# ---------------------------------------------------------------------------
# H.264/AVC structural layer (ISO/IEC 14496-10 Annex B) — the video
# counterpart of the Layer-I audio codec above: everything a corpus
# pipeline does with compressed video SHORT of pixel decode, for real.
#
# - Annex-B byte-stream walk: 3- and 4-byte start codes, NAL headers
#   (forbidden_zero_bit / nal_ref_idc / nal_unit_type);
# - emulation-prevention (00 00 03 insertion on encode, removal on
#   decode — the RBSP/SODB distinction, 7.4.1.1), round-tripped;
# - Exp-Golomb ue(v) bit codec (9.1);
# - SPS parse (7.3.2.1): profile/level, frame_num / POC field widths,
#   picture dimensions from pic_width_in_mbs with frame-cropping
#   offsets — the only correct way to get WxH of a .h264 stream;
# - slice-header prefix parse (7.3.3): first_mb_in_slice, slice_type,
#   frame_num (at the SPS-declared width) — enough to census
#   IDR/P-frame structure and GOP boundaries.
#
# Pixel decode (CABAC/CAVLC residuals, intra prediction, deblocking)
# needs a codec library and is out of scope.


class _EgWriter(_BitWriter):
    def ue(self, k: int) -> None:
        n = (k + 1).bit_length()
        self.put(0, n - 1)
        self.put(k + 1, n)

    def rbsp_trailing(self) -> None:
        self.put(1, 1)
        if self._n:
            self.put(0, 8 - self._n)


class _EgReader(_BitReader):
    def ue(self) -> int:
        zeros = 0
        while self.get(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("Exp-Golomb run too long (corrupt NAL)")
        return (1 << zeros) - 1 + (self.get(zeros) if zeros else 0)


def _ep_insert(rbsp: bytes) -> bytes:
    """00 00 (00|01|02|03) -> 00 00 03 xx (emulation prevention)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _ep_remove(ebsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2 and b == 3:
            if i + 1 >= len(ebsp) or ebsp[i + 1] > 3:
                raise ValueError("invalid emulation-prevention byte")
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def h264_nal(nal_type: int, rbsp: bytes, ref_idc: int = 3) -> bytes:
    """One Annex-B NAL unit: 4-byte start code + header + EP-guarded
    payload."""
    header = bytes([(ref_idc << 5) | nal_type])
    return b"\x00\x00\x00\x01" + header + _ep_insert(rbsp)


def h264_nals(stream: bytes) -> list[tuple[int, int, bytes]]:
    """Annex-B walk: [(nal_type, ref_idc, rbsp)] with start-code scan
    (3- and 4-byte forms) and emulation prevention removed."""
    starts = []
    i = 0
    n = len(stream)
    while i + 3 <= n:
        if stream[i] == 0 and stream[i + 1] == 0:
            if stream[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and stream[i + 2] == 0 and stream[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    if not starts or starts[0][0] != 0:
        raise ValueError("no leading start code")
    out = []
    for k, (at, body) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        header = stream[body]
        if header & 0x80:
            raise ValueError("forbidden_zero_bit set")
        out.append(
            (header & 0x1F, (header >> 5) & 3,
             _ep_remove(stream[body + 1 : end]))
        )
    return out


def h264_sps(
    width: int, height: int, level_idc: int = 30,
    log2_max_frame_num: int = 8,
) -> bytes:
    """Baseline-profile SPS RBSP for a frame_mbs_only stream of the
    given PIXEL dimensions — cropping encodes non-16-multiple sizes."""
    mb_w = (width + 15) // 16
    mb_h = (height + 15) // 16
    crop_r = (mb_w * 16 - width) // 2   # crop unit X = 2 (4:2:0)
    crop_b = (mb_h * 16 - height) // 2  # crop unit Y = 2 (frame)
    if crop_r * 2 != mb_w * 16 - width or crop_b * 2 != mb_h * 16 - height:
        raise ValueError("dimensions must be even (4:2:0 crop units)")
    w = _EgWriter()
    w.put(66, 8)   # profile_idc: Baseline
    w.put(0, 8)    # constraint flags + reserved
    w.put(level_idc, 8)
    w.ue(0)        # seq_parameter_set_id
    w.ue(log2_max_frame_num - 4)
    w.ue(0)        # pic_order_cnt_type
    w.ue(4)        # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)        # max_num_ref_frames
    w.put(0, 1)    # gaps_in_frame_num_value_allowed
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.put(1, 1)    # frame_mbs_only_flag
    w.put(0, 1)    # direct_8x8_inference_flag
    crop = crop_r or crop_b
    w.put(1 if crop else 0, 1)
    if crop:
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    w.put(0, 1)    # vui_parameters_present_flag
    w.rbsp_trailing()
    return bytes(w.buf)


def h264_parse_sps(rbsp: bytes) -> dict:
    """(7.3.2.1) -> {profile, level, width, height,
    log2_max_frame_num}; width/height honor frame cropping."""
    r = _EgReader(rbsp)
    profile = r.get(8)
    r.get(8)
    level = r.get(8)
    r.ue()  # sps id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS extensions not supported")
    log2_mfn = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        raise ValueError("pic_order_cnt_type 1 not supported")
    r.ue()      # max_num_ref_frames
    r.get(1)    # gaps allowed
    mb_w = r.ue() + 1
    map_h = r.ue() + 1
    frame_mbs_only = r.get(1)
    if not frame_mbs_only:
        raise ValueError("interlaced streams not supported")
    r.get(1)    # direct_8x8
    width = mb_w * 16
    height = map_h * 16
    if r.get(1):  # frame_cropping_flag
        cl, cr, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
        width -= 2 * (cl + cr)
        height -= 2 * (ct + cb)
    return {
        "profile": profile, "level": level,
        "width": width, "height": height,
        "log2_max_frame_num": log2_mfn,
    }


def h264_slice_header(rbsp: bytes, log2_max_frame_num: int) -> dict:
    """Slice-header prefix (7.3.3): first_mb_in_slice, slice_type
    (mod 5: 0=P, 2=I), frame_num."""
    r = _EgReader(rbsp)
    first_mb = r.ue()
    slice_type = r.ue()
    r.ue()  # pic_parameter_set_id
    frame_num = r.get(log2_max_frame_num)
    return {
        "first_mb": first_mb,
        "slice_type": slice_type % 5,
        "frame_num": frame_num,
    }


def synth_h264_stream(doc_id: int) -> tuple[bytes, int, int, int]:
    """(stream, width, height, n_frames): SPS + PPS + IDR + P-frames,
    dimensions NOT multiples of 16 (cropping exercised), slice RBSPs
    padded with bytes that FORCE emulation-prevention insertions."""
    d = int(doc_id)
    width = 48 + 2 * (d % 71)    # even, crosses many mb boundaries
    height = 32 + 2 * (d % 37)
    n_frames = 1 + d % 4
    nals = [h264_nal(7, h264_sps(width, height))]
    pps = _EgWriter()
    pps.ue(0)  # pps id
    pps.ue(0)  # sps id
    pps.put(0, 2)  # entropy flag + bottom_field_pic_order
    pps.ue(0)  # num_slice_groups_minus1
    pps.rbsp_trailing()
    nals.append(h264_nal(8, bytes(pps.buf)))
    for f in range(n_frames):
        s = _EgWriter()
        s.ue(0)                      # first_mb_in_slice
        s.ue(7 if f == 0 else 5)    # slice_type: I (IDR) then P
        s.ue(0)                      # pps id
        s.put(f, 8)                  # frame_num (log2_max_frame_num=8)
        s.rbsp_trailing()
        # payload bytes containing 00 00 00 / 00 00 01 runs: the EP
        # codec MUST fire or the stream would resync mid-slice
        body = bytes(s.buf) + b"\x00\x00\x01\x00\x00\x00\x02" * (1 + f)
        nals.append(h264_nal(5 if f == 0 else 1, body, ref_idc=3))
    return b"".join(nals), width, height, n_frames


# ---------------------------------------------------------------------------
# YUV4MPEG2 (.y4m)

_VW, _VH = 8, 4


def y4m_encode(frames: list[bytes], w: int, h: int) -> bytes:
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
    out = [head]
    for f in frames:
        assert len(f) == w * h
        out.append(b"FRAME\n" + f)
    return b"".join(out)


def y4m_decode(payload: bytes):
    """(width, height, frames) from YUV4MPEG2 mono bytes — real stream
    header + per-frame marker parsing."""
    nl = payload.index(b"\n")
    head = payload[:nl].decode("ascii", "strict").split(" ")
    if head[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    params = {p[0]: p[1:] for p in head[1:] if p}
    w, h = int(params["W"]), int(params["H"])
    if params.get("C", "420") != "mono":
        raise ValueError("only Cmono supported")
    frames = []
    pos = nl + 1
    size = w * h
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        frame = payload[fnl + 1 : fnl + 1 + size]
        if len(frame) != size:
            # partial upload in a landing zone cuts mid-frame; a short
            # plane must fail the row, not yield a silently wrong sum
            raise ValueError(
                f"truncated frame: {len(frame)} of {size} bytes"
            )
        frames.append(frame)
        pos = fnl + 1 + size
    return w, h, frames


# Shot-boundary (scene-cut) fixture: frames advance by +1 luma per
# frame WITHIN a scene (SAD <= w*h + 254: at most one mod-256 wrap,
# since p*3 spans < 256) and jump by a +97 scene key ACROSS cuts
# (per-pixel |diff| is 98 or 158 -> SAD >= 98*w*h). A threshold at
# SHOT_THRESHOLD therefore recovers the planted cut positions exactly
# — asserted per payload in the runner.
SHOT_THRESHOLD = 1500


def synth_shots(doc_id: int) -> bytes:
    """Y4M stream with planted scene cuts every (2 + d%3) frames:
    pixel(f, p) = (d*31 + (f // k)*97 + p*3 + f) % 256."""
    d = doc_id
    k = 2 + d % 3
    n_frames = 6 + d % 4
    frames = [
        bytes(
            (d * 31 + (f // k) * 97 + p * 3 + f) % 256
            for p in range(_VW * _VH)
        )
        for f in range(n_frames)
    ]
    return y4m_encode(frames, _VW, _VH)


def synth_y4m(doc_id: int) -> bytes:
    n_frames = 2 + doc_id % 4
    frames = [
        bytes((doc_id * 13 + f * 7 + p) % 256 for p in range(_VW * _VH))
        for f in range(n_frames)
    ]
    return y4m_encode(frames, _VW, _VH)


# ---------------------------------------------------------------------------
# GIF (87a/89a) — a real compressed-codec decoder, stdlib only.
#
# The reference's check_and_read (ppocr/utils/utility.py:119-152)
# special-cases .gif payloads (cv2.VideoCapture frame grab); here the
# format is decoded for real: logical screen descriptor, global color
# table, extension-block skipping, per-frame image descriptors,
# interlace passes, and genuine variable-width LZW (code-size growth,
# CLEAR handling, the cScSc self-reference case, 12-bit cap).


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Greedy GIF-LZW: emits a leading CLEAR, grows the code width when
    the next free code crosses a power of two, resets via CLEAR at the
    4096-entry cap. Returns the LSB-first-packed code stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits: list[tuple[int, int]] = []  # (code, width)

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh()
    bits.append((clear, width))
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        bits.append((table[w], width))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # GIF is LATE change (unlike TIFF LZW): the width grows one
            # add AFTER the power-of-two boundary, because the emitted
            # code still references a pre-boundary entry. The decoder's
            # table lags one add, so its boundary is 1 << width.
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            bits.append((clear, width))
            table, next_code, width = fresh()
        w = bytes([b])
    if w:
        bits.append((table[w], width))
    bits.append((eoi, width))
    # LSB-first bit packing
    out = bytearray()
    acc = nacc = 0
    for code, cw in bits:
        acc |= code << nacc
        nacc += cw
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of `_lzw_encode` — the decoder any conformant GIF writer
    feeds: width grows when the next free slot reaches 2^width (capped
    at 12), CLEAR rebuilds the table, code==next_code resolves to
    prev + prev[0]."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nacc = pos = 0
    while True:
        while nacc < width:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate, data complete
            acc |= data[pos] << nacc
            pos += 1
            nacc += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # the cScSc case
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    return [r for start, step in _INTERLACE_PASSES for r in range(start, h, step)]


def gif_encode(
    frames: list[bytes],
    w: int,
    h: int,
    palette: list[tuple[int, int, int]],
    interlace_odd: bool = True,
) -> bytes:
    """Multi-image GIF89a writer used for fixture synthesis: global
    color table, a graphic-control + comment extension per frame (so the
    decoder's extension walk is exercised), odd frames stored interlaced."""
    n = len(palette)
    assert n and (n & (n - 1)) == 0, "palette size must be a power of two"
    size_field = n.bit_length() - 2  # 2^(field+1) entries
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])  # GCT flag, bg, aspect
    for r, g, b in palette:
        out += bytes([r, g, b])
    for f, frame in enumerate(frames):
        assert len(frame) == w * h
        out += bytes([0x21, 0xF9, 4, 0, 4, 0, 0, 0])  # GCE, 4cs delay
        out += bytes([0x21, 0xFE, 5]) + b"frame" + bytes([0])  # comment
        interlaced = interlace_odd and f % 2 == 1
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlaced else 0])
        if interlaced:
            rows = _interlace_order(h)
            frame = b"".join(frame[r * w : (r + 1) * w] for r in rows)
        min_code_size = max(2, n.bit_length() - 1)
        out += bytes([min_code_size])
        stream = _lzw_encode(frame, min_code_size)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode(payload: bytes):
    """(width, height, palette, frames) from GIF bytes — frames are
    raster-order palette-index bytes (interlaced images deinterlaced)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack("<HH", payload[6:10])
    packed, _bg, _aspect = payload[10], payload[11], payload[12]
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        for i in range(n):
            palette.append(tuple(payload[pos + 3 * i : pos + 3 * i + 3]))
        pos += 3 * n
    frames: list[bytes] = []
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, all skipped
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown block 0x{block:02x} at {pos}")
        left, top, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
        ipacked = payload[pos + 9]
        pos += 10
        if ipacked & 0x80:  # local color table (unused by our writer)
            pos += 3 * (2 << (ipacked & 0x07))
        min_code_size = payload[pos]
        pos += 1
        stream = bytearray()
        while payload[pos]:
            ln = payload[pos]
            stream += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        pixels = _lzw_decode(bytes(stream), min_code_size)
        if len(pixels) < w * h:
            raise ValueError(
                f"truncated image data: {len(pixels)} of {w * h} pixels"
            )
        pixels = pixels[: w * h]
        if ipacked & 0x40:  # interlaced: invert the pass ordering
            rows = _interlace_order(h)
            raster = bytearray(w * h)
            for stored, r in enumerate(rows):
                raster[r * w : (r + 1) * w] = pixels[
                    stored * w : (stored + 1) * w
                ]
            pixels = bytes(raster)
        frames.append(pixels)
    return int(sw), int(sh), palette, frames


_GIF_COLORS = 8


def synth_gif(doc_id: int) -> bytes:
    w, h = 10 + doc_id % 7, 6 + doc_id % 5
    n_frames = 1 + doc_id % 3
    palette = [((j * 37 + 11) % 256, (j * 5) % 256, (j * 3) % 256) for j in range(_GIF_COLORS)]
    frames = [
        bytes((doc_id * 7 + f * 5 + p) % _GIF_COLORS for p in range(w * h))
        for f in range(n_frames)
    ]
    return gif_encode(frames, w, h, palette)


# ---------------------------------------------------------------------------
# queries


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize WAV payloads (binary column), then REAL-decode them and
    emit integer-exact features: n_samples, sample_rate, sum of squared
    samples (int64), and rms = sqrt(sum_sq/n) — the division and sqrt
    are single IEEE ops, identical on both engines."""
    docs = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def features(doc_id):
        rate, samples = wav_decode(synth_wav(doc_id))
        n = len(samples)
        ssq = sum(s * s for s in samples)
        return [(doc_id, n, rate, ssq, math.sqrt(ssq / n))]

    return map_rows(
        docs, features,
        "doc_id long, n_samples long, sample_rate long, sum_sq long, "
        "rms double",
    )


AUDIO_FEATURES_SQL = """
WITH s AS (
  SELECT d.doc_id,
         64 + d.doc_id % 64 AS n,
         (d.doc_id * 31 + g.i * 17) % 2048 - 1024 AS x
  FROM documents d, generate_series(0, 127) g(i)
  WHERE g.i < 64 + d.doc_id % 64
)
SELECT doc_id,
       CAST(n AS bigint) AS n_samples,
       CAST(8000 AS bigint) AS sample_rate,
       CAST(sum(x * x) AS bigint) AS sum_sq,
       sqrt(CAST(sum(x * x) AS bigint) / CAST(n AS double)) AS rms
FROM s GROUP BY doc_id, n
"""


def video_keyframes(spark: SparkSession, sf_dir: str, every: int = 2) -> DataFrame:
    """Synthesize Y4M payloads, REAL-decode the stream, sample every
    k-th frame, emit per-sampled-frame integer luma sums. Frame markers
    are walked before any pixel math — at scale, skipped frames cost a
    seek, not a decode."""
    docs = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def keyframes(d):
        w, h, frames = y4m_decode(synth_y4m(d))
        return [
            (d, idx, w, h, sum(frames[idx]))
            for idx in range(0, len(frames), every)
        ]

    return map_rows(
        docs, keyframes,
        "doc_id long, frame_idx long, width long, height long, luma_sum long",
    )


VIDEO_KEYFRAMES_SQL = """
WITH f AS (
  SELECT d.doc_id, g.f AS frame_idx
  FROM documents d, generate_series(0, 5) g(f)
  WHERE g.f < 2 + d.doc_id % 4 AND g.f % 2 = 0
)
SELECT f.doc_id,
       CAST(f.frame_idx AS bigint) AS frame_idx,
       CAST(8 AS bigint) AS width,
       CAST(4 AS bigint) AS height,
       CAST(sum((f.doc_id * 13 + f.frame_idx * 7 + g.p) % 256) AS bigint) AS luma_sum
FROM f, generate_series(0, 31) g(p)
GROUP BY f.doc_id, f.frame_idx
"""


# ---------------------------------------------------------------------------
# baseline JPEG (kernels/jpeg.py) + GIF as one union-tagged suite query


_JPEG_Q0 = 16


def synth_jpeg_blocks(doc_id: int) -> tuple[list[list[int]], int, int]:
    """Quantized coefficient blocks for the JPEG fixture: even blocks are
    DC-only (their decoded tile is exactly flat -> the IDCT path has a
    closed-form pixel oracle), odd blocks carry 5 low-frequency AC
    coefficients (some zero -> real run-length coding)."""
    nx, ny = 2 + doc_id % 3, 2
    blocks = []
    for b in range(nx * ny):
        blk = [(doc_id * 5 + b * 7) % 64 - 32] + [0] * 63
        if b % 2 == 1:
            for j in range(1, 6):
                blk[j] = (doc_id + b * 3 + j * 11) % 15 - 7
        blocks.append(blk)
    return blocks, nx, ny


def synth_jpeg(doc_id: int) -> bytes:
    from paddleocr_spark.kernels.jpeg import jpeg_encode_blocks

    blocks, nx, ny = synth_jpeg_blocks(doc_id)
    quant = [_JPEG_Q0] + [10] * 63
    return jpeg_encode_blocks(blocks, nx, ny, quant)


def synth_jpeg_prog(doc_id: int) -> bytes:
    """The SAME quantized blocks as synth_jpeg, written as a PROGRESSIVE
    (SOF2) stream — 4 scans: DC@Al=1, DC refine, AC 1-63@Al=1, AC
    refine with EOBn runs and correction bits. Decoded features are
    identical to the baseline fixture's, so the oracle reuses the jpeg
    closed form under a distinct codec tag."""
    from paddleocr_spark.kernels.jpeg import jpeg_encode_blocks_progressive

    blocks, nx, ny = synth_jpeg_blocks(doc_id)
    quant = [_JPEG_Q0] + [10] * 63
    return jpeg_encode_blocks_progressive(blocks, nx, ny, quant)


def _jpeg_metrics(jpeg: bytes) -> tuple[int, int, int, int]:
    """(w, h, m1, m2): m1 = sum |quantized coefficients| (pins entropy
    decode), m2 = pixel sum over DC-only (even) blocks (pins dequant +
    IDCT + level shift — exactly flat at 2*dc+128 with q0=16)."""
    from paddleocr_spark.kernels.jpeg import jpeg_decode

    w, h, _quant, blocks, px = jpeg_decode(jpeg)
    nx = w // 8
    m1 = sum(sum(abs(c) for c in blk) for blk in blocks)
    m2 = 0
    for b in range(len(blocks)):
        if b % 2 == 0:
            by, bx = divmod(b, nx)
            m2 += int(
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                .astype("int64")
                .sum()
            )
    return w, h, m1, m2


def synth_pdf(doc_id: int) -> bytes:
    """Scanned-document PDF fixture: 1 + doc_id%3 pages, page k embeds
    synth_jpeg(doc_id + k) as its DCTDecode image XObject."""
    from paddleocr_spark.kernels.pdf import pdf_encode_pages

    return pdf_encode_pages(
        [synth_jpeg(doc_id + k) for k in range(1 + doc_id % 3)]
    )


# 32-char alphabet for the born-digital PDF text fixture; includes the
# literal-string delimiters ( ) \ so the escape paths are exercised on
# ~1/10 of positions, plus space (the TJ space-as-kern idiom target)
_PDF_TEXT_CHARSET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ()\\ .-"
_PDF_TEXT_CODES = [ord(c) for c in _PDF_TEXT_CHARSET]


def synth_text_pdf(doc_id: int) -> tuple[bytes, list[str]]:
    """(payload, expected page texts) for the born-digital PDF fixture:
    1 + doc_id%2 pages x 3 lines x 40 chars, char (k, l, i) =
    charset[(doc_id*7 + k*13 + (l*40+i)*3) % 32], line form cycling
    (doc_id + k*3 + l) % 4 over the four content-stream encodings of
    kernels/pdf.pdf_encode_text_pages."""
    from paddleocr_spark.kernels.pdf import pdf_encode_text_pages

    pages, forms = [], []
    for k in range(1 + doc_id % 2):
        lines, fs = [], []
        for l in range(3):
            lines.append(
                "".join(
                    _PDF_TEXT_CHARSET[
                        (doc_id * 7 + k * 13 + (l * 40 + i) * 3) % 32
                    ]
                    for i in range(40)
                )
            )
            fs.append((doc_id + k * 3 + l) % 4)
        pages.append(lines)
        forms.append(fs)
    return pdf_encode_text_pages(pages, forms), [
        "\n".join(p) for p in pages
    ]


# robots.txt body for the second WARC response record (doc_id odd):
# constant, so its length/byte-sum inline into the SQL oracle as literals
_ROBOTS = b"User-agent: *\nDisallow: /private\n"


def synth_warc(doc_id: int, text: str, source: str) -> bytes:
    """Common-Crawl-style .warc.gz for one doc: warcinfo + a response
    record carrying the page's normalized text, plus a robots.txt
    response for odd doc_ids (a genuine 1->N container), each record
    its own gzip member (sources/warc.py)."""
    from paddleocr_spark.sources.pages import doc_ts, doc_url, normalize_text
    from paddleocr_spark.sources.warc import warc_encode_responses

    url = doc_url(doc_id, source)
    iso = doc_ts(doc_id).strftime("%Y-%m-%dT%H:%M:%SZ")
    recs = [(url, iso, "text/plain", normalize_text(text).encode())]
    if doc_id % 2 == 1:
        recs.append((url + "/robots.txt", iso, "text/plain", _ROBOTS))
    return warc_encode_responses(recs, gzip_members=True)


# -- MIME sniffing (WHATWG magic-byte core) -----------------------------------

# WHATWG "binary data byte": 0x00-0x08, 0x0B, 0x0E-0x1A, 0x1C-0x1F —
# exactly the spec set (0x7F DEL is NOT binary per spec: stray DELs in
# fetched text must not route it away from the text decoder)
_BINARY_BYTES = frozenset(
    list(range(0x00, 0x09)) + [0x0B] + list(range(0x0E, 0x1B))
    + list(range(0x1C, 0x20))
)

_HTML_TAGS = (b"<!doctype html", b"<html", b"<head", b"<body", b"<script",
              b"<iframe", b"<h1", b"<div", b"<font", b"<table", b"<a",
              b"<style", b"<title", b"<b", b"<br", b"<p", b"<!--")


def sniff_mime(payload: bytes) -> tuple[str, int]:
    """(mime type, matched magic length) by content, never by name —
    the WHATWG MIME-sniffing algorithm's magic-byte core. The triage
    step a crawl pipeline runs on every fetched payload BEFORE routing
    it to a decoder: origins mislabel Content-Type constantly, and
    feeding a GIF to the JPEG path (or HTML to the image path) must be
    a routing decision, not a decoder crash."""
    p = payload
    if p.startswith(b"GIF87a") or p.startswith(b"GIF89a"):
        return "image/gif", 6
    if p.startswith(b"\x89PNG\r\n\x1a\n"):
        return "image/png", 8
    if p.startswith(b"\xff\xd8\xff"):
        return "image/jpeg", 3
    if p.startswith(b"%PDF-"):
        return "application/pdf", 5
    if p.startswith(b"II*\x00") or p.startswith(b"MM\x00*"):
        return "image/tiff", 4
    if p.startswith(b"\x1f\x8b"):
        return "application/gzip", 2
    if p.startswith(b"RIFF") and p[8:12] == b"WAVE":
        return "audio/wav", 12
    if p.startswith(b"YUV4MPEG2"):
        return "video/x-yuv4mpeg", 9
    head = p[:512]
    stripped = head.lstrip(b"\t\n\x0c\r ")
    low = stripped[:16].lower()
    for tag in _HTML_TAGS:
        if low.startswith(tag):
            # the spec requires a space or '>' terminator after the tag
            nxt = stripped[len(tag):len(tag) + 1]
            if nxt in (b" ", b">") or (tag == b"<!--"):
                return "text/html", 0
    if any(b in _BINARY_BYTES for b in head):
        return "application/octet-stream", 0
    return "text/plain", 0


# kind index -> (payload family, true mime, magic length); order is the
# item_idx contract shared with the SQL oracle
_MIME_KINDS = (
    ("gif", "image/gif", 6),
    ("jpeg", "image/jpeg", 3),
    ("pdf", "application/pdf", 5),
    ("warcgz", "application/gzip", 2),
    ("wav", "audio/wav", 12),
    ("y4m", "video/x-yuv4mpeg", 9),
    ("png", "image/png", 8),
    ("html", "text/html", 0),
    ("tiff", "image/tiff", 4),
)


def _synth_kind(kind: str, doc_id: int, text: str, source: str) -> bytes:
    if kind == "gif":
        return synth_gif(doc_id)
    if kind == "jpeg":
        return synth_jpeg(doc_id)
    if kind == "pdf":
        return synth_pdf(doc_id)
    if kind == "warcgz":
        return synth_warc(doc_id, text, source)
    if kind == "wav":
        return synth_wav(doc_id)
    if kind == "y4m":
        return synth_y4m(doc_id)
    if kind == "png":
        import numpy as np

        from paddleocr_spark.kernels.png import encode_gray_png

        return encode_gray_png(
            np.full((2, 2), doc_id % 256, dtype=np.uint8)
        )
    if kind == "tiff":
        return synth_tiff(doc_id)[0]
    from paddleocr_spark.operators.html_extract import synthesize_html

    return synthesize_html(text, doc_id).encode("utf-8")


def media_branch_builders(spark: SparkSession, sf_dir: str):
    """The codec suite's branch registry: ordered (name, thunk) pairs,
    one per codec family. media_codec_suite unions them in this literal
    order; bench.py's per-op breakdown times the SAME list (the
    text_stats_suite single-source-of-truth discipline).

    GIF + baseline JPEG + PDF + WARC decode as one union-tagged suite
    (the board records at most 50 rows; the codec paths share one).
    Per doc, all payloads are synthesized and REAL-decoded — GIF through
    the full LZW/interlace path, JPEG through marker walk + canonical
    Huffman + dequant + IDCT (kernels/jpeg.py), PDF through the object
    graph walk (kernels/pdf.py: trailer -> catalog -> page tree ->
    DCTDecode XObject per page, Flate content streams) with every
    extracted page fed through the SAME JPEG path — and reduced to
    integer-exact features:

    - gif rows: per frame, sum of palette indices / sum of palette reds.
    - jpeg/pdf rows: m1 = sum of |quantized coefficients| over all
      blocks (pins the entropy decode), m2 = pixel sum over the DC-only
      blocks (pins dequant + IDCT + level shift).
    - sniff rows: every payload family re-synthesized and MIME-sniffed
      by magic bytes (sniff_mime) against a declared Content-Type that
      doc_id%3==0 rows deliberately mislabel — codec carries
      'sniff|<sniffed>|<declared>', m1 the mismatch verdict, m2 the
      matched magic length. The oracle pins that every real payload
      sniffs to its true type.

    One Arrow-batched narrow map per codec — but NOT per input split:
    the fixture parquet is one split, and every branch's synth+codec
    work is CPU-bound, so without a spread the whole suite serializes
    onto one task per branch. The repartition shuffles doc_id longs
    (and for docs_full, the ~KB text column), so the spread is ~free
    and each branch parallelizes across every core; at production
    scale the table arrives in many splits and the exchange is a
    near-no-op (same rationale as dedup._cdc_chunks_frame)."""
    from paddleocr_spark.kernels.pdf import pdf_decode_pages, pdf_text_pages
    from paddleocr_spark.sources.warc import warc_date_epoch, warc_decode

    par = spark.sparkContext.defaultParallelism
    docs = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(par)
    )

    def gif(d):
        w, h, palette, frames = gif_decode(synth_gif(d))
        for idx, fr in enumerate(frames):
            yield (d, "gif", idx, w, h, sum(fr),
                   sum(palette[p][0] for p in fr))

    def jpeg(d):
        w, h, m1, m2 = _jpeg_metrics(synth_jpeg(d))
        yield (d, "jpeg", 0, w, h, m1, m2)

    def jpegprog(d):
        payload = synth_jpeg_prog(d)
        # the scan really must be progressive: a baseline frame
        # here would mean the fixture writer silently regressed
        if b"\xff\xc2" not in payload or b"\xff\xc0" in payload:
            raise ValueError("jpegprog fixture is not SOF2")
        w, h, m1, m2 = _jpeg_metrics(payload)
        yield (d, "jpegprog", 0, w, h, m1, m2)

    def pdf(d):
        payload = synth_pdf(d)
        # the text-vs-scan router must send every scanned page
        # to the OCR path — a misroute is a whole-query failure
        if any(t is not None for t in pdf_text_pages(payload)):
            raise ValueError("router claimed text in a scan PDF")
        for k, (pw, ph, filt, jpeg, _content) in enumerate(
            pdf_decode_pages(payload)
        ):
            if filt != "DCTDecode":
                raise ValueError("scan fixture must be DCTDecode")
            w, h, m1, m2 = _jpeg_metrics(jpeg)
            if (pw, ph) != (w, h):
                raise ValueError(
                    "XObject dims disagree with embedded JPEG"
                )
            yield (d, "pdf", k, w, h, m1, m2)

    def pdftext(d):
        payload, want = synth_text_pdf(d)
        texts = pdf_text_pages(payload)
        # router contract: every born-digital page extracts
        # WITHOUT OCR; byte-identity vs the synthesized lines
        # is asserted here (the oracle sees integer features)
        if texts != want:
            raise ValueError("born-digital text mismatch")
        for k, text in enumerate(texts):
            codes = [ord(c) for c in text]
            yield (d, "pdftext", k, len(text),
                   text.count("\n") + 1, sum(codes),
                   sum((p + 1) * c for p, c in enumerate(codes)))

    def warc(d, text, source):
        decoded = warc_decode(synth_warc(d, str(text), str(source)))
        if decoded[0]["type"] != "warcinfo":
            raise ValueError("first warc record must be warcinfo")
        responses = [r for r in decoded if r["type"] == "response"]
        if len(responses) != 1 + d % 2:
            raise ValueError("warc response record count mismatch")
        for k, rec in enumerate(responses):
            # byte-level roundtrip invariants the oracle can't
            # see directly: fail the whole query on mismatch
            if rec["http_status"] != 200 or not rec["url"]:
                raise ValueError("warc http envelope mismatch")
            epoch = warc_date_epoch(rec["date"])
            yield (d, "warc", k, len(rec["payload"]),
                   len(rec["headers"]), epoch, sum(rec["payload"]))

    # NOTE: sniff re-synthesizes the gif/jpeg/pdf/warc payloads the
    # other runners also build — a FIXTURE-only cost (runners are
    # separate Arrow streams and can't share Python objects). In a real
    # deployment the payload bytes come from the table scan and
    # sniffing reads a <=512-byte prefix of bytes already in hand.
    def sniff(d, text, source):
        for k, (kind, _true_mime, _ml) in enumerate(_MIME_KINDS):
            payload = _synth_kind(kind, d, str(text), str(source))
            sniffed, maglen = sniff_mime(payload)
            # odd doc_id%3==0 rows declare the NEXT kind's type
            # (origin mislabel); types are distinct so mismatch
            # is deterministic
            declared = _MIME_KINDS[
                (k + 1) % len(_MIME_KINDS) if d % 3 == 0 else k
            ][1]
            yield (d, f"sniff|{sniffed}|{declared}", k, 0, 0,
                   int(sniffed != declared), maglen)

    def vad(d):
        _rate, samples = wav_decode(synth_wav(d))
        for k, (s, e, mx, sa) in enumerate(vad_segments(samples)):
            yield (d, "vad", k, s, e, mx, sa)

    def adpcm(d):
        samples = synth_adpcm_samples(d)
        payload = adpcm_encode(samples, block_samples=129)
        rate, got = adpcm_decode(payload)
        # byte-level invariants the oracle can't see directly
        if rate != _RATE or len(got) != len(samples):
            raise ValueError(f"adpcm envelope mismatch doc {d}")
        bad = [
            i for i, (a, b) in enumerate(zip(samples, got))
            if abs(a - b) > ADPCM_TOL
        ]
        if bad:
            raise ValueError(
                f"adpcm reconstruction excursion doc {d} at {bad[:3]}"
            )
        starts = range(0, len(samples), 129)
        if any(got[s] != samples[s] for s in starts):
            raise ValueError(f"adpcm block header inexact doc {d}")
        yield (d, "adpcm", 0, len(samples), len(list(starts)),
               sum(samples[s] for s in starts), len(samples))

    def mp3(d):
        frames, alloc, n_frames = synth_layer1_frames(d)
        payload = layer1_encode(
            frames, alloc, rate=_MP3_RATES[d % 3]
        )
        # the closed-form slot arithmetic must match the real
        # bit packing byte-for-byte
        if len(payload) != n_frames * mp3_frame_bytes(d):
            raise ValueError(f"mp3 slot arithmetic off doc {d}")
        rate, decoded = layer1_decode(payload)
        if rate != _MP3_RATES[d % 3] or len(decoded) != n_frames:
            raise ValueError(f"mp3 envelope mismatch doc {d}")
        m1 = 0
        for f, (dalloc, dsf, sub) in enumerate(decoded):
            if dalloc != alloc:
                raise ValueError(f"mp3 allocation mismatch doc {d}")
            k = 0
            for sb in range(MP3_SUBBANDS):
                nb = alloc[sb]
                if not nb:
                    if any(s != 0.0 for s in sub[sb]):
                        raise ValueError(
                            f"mp3 silent subband decoded "
                            f"non-zero doc {d}"
                        )
                    continue
                peak = max(abs(s) for s in frames[f][sb])
                want_idx = _mp3_sf_index(peak)
                if dsf[k] != want_idx:
                    raise ValueError(
                        f"mp3 scalefactor mismatch doc {d} sb {sb}"
                    )
                sf = _mp3_sf_value(want_idx)
                # half a quantizer step after the 2.4.3.3
                # dequant expansion, scaled back by sf
                tol = (
                    sf * (2**nb / (2**nb - 1.0)) * 2.0 ** (-nb)
                ) * (1 + 1e-9) + 1e-12
                k += 1
                for t in range(MP3_GRANULE):
                    raw = (
                        d * 7 + f * 31 + sb * 13 + t * 29
                    ) % MP3_RAW_MOD - 1000
                    if abs(sub[sb][t] - raw / MP3_RAW_SCALE) > tol:
                        raise ValueError(
                            f"mp3 reconstruction excursion doc "
                            f"{d} sb {sb} t {t}"
                        )
                    m1 += raw
        yield (d, "mp3", 0,
               n_frames * MP3_SUBBANDS * MP3_GRANULE, n_frames,
               m1, len(payload))

    def h264(d):
        stream, w, h, nf = synth_h264_stream(d)
        # emulation prevention must actually have fired — the
        # fixture plants 00 00 01 runs inside slice payloads
        if b"\x00\x00\x03" not in stream:
            raise ValueError(f"h264 EP never fired doc {d}")
        nals = h264_nals(stream)
        if [t for t, _, _ in nals[:2]] != [7, 8]:
            raise ValueError(f"h264 SPS/PPS order wrong doc {d}")
        sps = h264_parse_sps(nals[0][2])
        if (sps["width"], sps["height"]) != (w, h):
            raise ValueError(
                f"h264 crop arithmetic off doc {d}: "
                f"{sps['width']}x{sps['height']} != {w}x{h}"
            )
        slices = [x for x in nals if x[0] in (1, 5)]
        if len(slices) != nf or slices[0][0] != 5:
            raise ValueError(f"h264 slice census wrong doc {d}")
        m1 = 0
        for f, (t, _ref, rbsp) in enumerate(slices):
            sh = h264_slice_header(
                rbsp, sps["log2_max_frame_num"]
            )
            if sh["frame_num"] != f or sh["first_mb"] != 0:
                raise ValueError(
                    f"h264 slice header mismatch doc {d} f {f}"
                )
            m1 += sh["frame_num"] * 10 + sh["slice_type"]
        yield (d, "h264", 0, w, h, m1, w * h)

    def tiff(d):
        payload, w, h, px = synth_tiff(d)
        w2, h2, got = tiff_decode(payload)
        # byte-level invariants the oracle can't see: the
        # decode must reproduce the raster exactly, and the
        # OPPOSITE byte order + opposite compression must
        # decode to the same raster (format coverage, not just
        # the fixture's own parity)
        if (w2, h2, got) != (w, h, px):
            raise ValueError("tiff roundtrip mismatch")
        alt = tiff_encode(
            px, w, h,
            big_endian=(d % 2 == 0), packbits=(d % 3 != 0),
        )
        if tiff_decode(alt)[2] != px:
            raise ValueError("tiff cross-variant mismatch")
        yield (d, "tiff", 0, w, h, sum(got),
               sum((p + 1) * v for p, v in enumerate(got)))

    def shots(d):
        w, h, frames = y4m_decode(synth_shots(d))
        k = 2 + d % 3
        cuts = 0
        for f in range(len(frames) - 1):
            sad = sum(
                abs(a - b)
                for a, b in zip(frames[f], frames[f + 1])
            )
            cut = 1 if sad >= SHOT_THRESHOLD else 0
            cuts += cut
            yield (d, "shots", f, w, h, sad, cut)
        # detection must recover exactly the planted scene
        # structure (the fixture separates by construction:
        # within-scene SAD <= w*h + 254, cross-scene >= 98*w*h)
        planted = sum(
            1 for f in range(1, len(frames)) if f % k == 0
        )
        if cuts != planted:
            raise ValueError(
                f"shot detection missed cuts doc {d}: "
                f"{cuts} != {planted}"
            )

    def exif(d):
        payload = synth_exif_jpeg(d)
        meta = exif_parse(payload)
        # byte-level invariants the oracle can't see: parsed
        # fields match the synth parameters in EITHER byte
        # order, the strip is idempotent/passthrough without
        # GPS, preserves orientation + capture time, and the
        # pixel decode is untouched
        want_dt = f"2026:08:{1 + d % 28:02d} 12:{d % 60:02d}:00"
        if (
            meta["orientation"] != 1 + d % 8
            or meta["datetime"] != want_dt
            or (meta["gps"] is not None) != (d % 3 == 0)
            or meta["big_endian"] != (d % 2 == 0)
        ):
            raise ValueError(f"exif parse mismatch doc {d}")
        stripped = exif_strip_gps(payload)
        delta = len(payload) - len(stripped)
        if d % 3 == 0:
            if delta != EXIF_GPS_DELTA:
                raise ValueError("exif strip delta mismatch")
        elif stripped != payload:
            raise ValueError("exif strip not a passthrough")
        after = exif_parse(stripped)
        if (
            after["gps"] is not None
            or after["orientation"] != meta["orientation"]
            or after["datetime"] != meta["datetime"]
        ):
            raise ValueError("exif strip lost metadata")
        w, h, m1s, m2s = _jpeg_metrics(stripped)
        if (w, h, m1s, m2s) != _jpeg_metrics(payload):
            raise ValueError("exif strip touched pixels")
        yield (
            d, "exif", 0, w, h,
            (1 + d % 8) * 1000000
            + (1 + d % 28) * 10000
            + (d % 60) * 100
            + (1 if d % 3 == 0 else 0),
            delta,
        )

    schema = (
        "doc_id long, codec string, item_idx long, width long, "
        "height long, m1 long, m2 long"
    )
    docs_full = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source")
        .repartition(par)
    )
    return [
        ("gif", lambda: map_rows(docs, gif, schema)),
        ("jpeg", lambda: map_rows(docs, jpeg, schema)),
        ("jpegprog", lambda: map_rows(docs, jpegprog, schema)),
        ("pdf", lambda: map_rows(docs, pdf, schema)),
        ("pdftext", lambda: map_rows(docs, pdftext, schema)),
        ("warc", lambda: map_rows(docs_full, warc, schema)),
        ("sniff", lambda: map_rows(docs_full, sniff, schema)),
        ("vad", lambda: map_rows(docs, vad, schema)),
        ("adpcm", lambda: map_rows(docs, adpcm, schema)),
        ("mp3", lambda: map_rows(docs, mp3, schema)),
        ("h264", lambda: map_rows(docs, h264, schema)),
        ("tiff", lambda: map_rows(docs, tiff, schema)),
        ("exif", lambda: map_rows(docs, exif, schema)),
        ("shots", lambda: map_rows(docs, shots, schema)),
    ]


def media_codec_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All codec branches unioned in registry order — the board row.
    See media_branch_builders for the per-codec documentation."""
    return union_branches(spark, media_branch_builders(spark, sf_dir))


MEDIA_CODEC_SUITE_SQL = f"""
WITH gf AS (
  SELECT d.doc_id,
         10 + d.doc_id % 7 AS w,
         6 + d.doc_id % 5 AS h,
         g.f AS frame_idx
  FROM documents d, generate_series(0, 2) g(f)
  WHERE g.f < 1 + d.doc_id % 3
),
gif_rows AS (
  SELECT doc_id, 'gif' AS codec,
         CAST(frame_idx AS bigint) AS item_idx,
         CAST(w AS bigint) AS width, CAST(h AS bigint) AS height,
         CAST(sum((doc_id * 7 + frame_idx * 5 + g.p) % 8) AS bigint) AS m1,
         CAST(sum((((doc_id * 7 + frame_idx * 5 + g.p) % 8) * 37 + 11) % 256) AS bigint) AS m2
  FROM gf, generate_series(0, 159) g(p)
  WHERE g.p < w * h
  GROUP BY doc_id, frame_idx, w, h
),
jsrc AS (
  SELECT doc_id, 'jpeg' AS codec, CAST(0 AS bigint) AS item_idx,
         doc_id AS eff
  FROM documents
  UNION ALL
  SELECT doc_id, 'jpegprog', CAST(0 AS bigint), doc_id FROM documents
  UNION ALL
  SELECT d.doc_id, 'pdf', CAST(g.k AS bigint), d.doc_id + g.k
  FROM documents d, generate_series(0, 2) g(k)
  WHERE g.k < 1 + d.doc_id % 3
),
jb AS (
  SELECT s.doc_id, s.codec, s.item_idx, s.eff,
         2 + s.eff % 3 AS nx, g.b AS b,
         (s.eff * 5 + g.b * 7) % 64 - 32 AS dc
  FROM jsrc s, generate_series(0, 7) g(b)
  WHERE g.b < (2 + s.eff % 3) * 2
),
jac AS (
  SELECT doc_id, codec, item_idx, b,
         sum(abs((eff + b * 3 + j.j * 11) % 15 - 7)) AS ac_abs
  FROM jb, generate_series(1, 5) j(j)
  WHERE b % 2 = 1
  GROUP BY doc_id, codec, item_idx, b
),
jpeg_rows AS (
  SELECT jb.doc_id, jb.codec, jb.item_idx,
         CAST(min(nx) * 8 AS bigint) AS width, CAST(16 AS bigint) AS height,
         CAST(sum(abs(dc)) + coalesce(sum(jac.ac_abs), 0) AS bigint) AS m1,
         CAST(sum(CASE WHEN jb.b % 2 = 0 THEN 64 * (2 * dc + 128) ELSE 0 END) AS bigint) AS m2
  FROM jb LEFT JOIN jac
    ON jb.doc_id = jac.doc_id AND jb.codec = jac.codec
   AND jb.item_idx = jac.item_idx AND jb.b = jac.b
  GROUP BY jb.doc_id, jb.codec, jb.item_idx
),
pt AS (
  -- born-digital PDF pages: flattened char grid 3 lines x 40 chars +
  -- 2 newline separators = 122 positions per page; char codes come
  -- from the 32-entry fixture charset, newlines sit at p % 41 = 40
  SELECT d.doc_id, g.k, p.p,
         CASE WHEN p.p % 41 = 40 THEN 10
              ELSE list_extract({_PDF_TEXT_CODES},
                   ((d.doc_id * 7 + g.k * 13 +
                     ((p.p // 41) * 40 + (p.p % 41)) * 3) % 32) + 1)
         END AS code
  FROM documents d, generate_series(0, 1) g(k), generate_series(0, 121) p(p)
  WHERE g.k < 1 + d.doc_id % 2
),
pdftext_rows AS (
  SELECT doc_id, 'pdftext' AS codec, CAST(k AS bigint) AS item_idx,
         CAST(122 AS bigint) AS width, CAST(3 AS bigint) AS height,
         CAST(sum(code) AS bigint) AS m1,
         CAST(sum((p + 1) * code) AS bigint) AS m2
  FROM pt GROUP BY doc_id, k
),
mime_map AS (
  SELECT * FROM (VALUES
    (0, 'image/gif', 6), (1, 'image/jpeg', 3), (2, 'application/pdf', 5),
    (3, 'application/gzip', 2), (4, 'audio/wav', 12),
    (5, 'video/x-yuv4mpeg', 9), (6, 'image/png', 8), (7, 'text/html', 0),
    (8, 'image/tiff', 4)
  ) m(k, mime, maglen)
),
sniff_rows AS (
  SELECT d.doc_id,
         'sniff|' || s.mime || '|' ||
           CASE WHEN d.doc_id % 3 = 0 THEN n.mime ELSE s.mime END AS codec,
         CAST(s.k AS bigint) AS item_idx,
         CAST(0 AS bigint) AS width, CAST(0 AS bigint) AS height,
         CAST(CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END AS bigint) AS m1,
         CAST(s.maglen AS bigint) AS m2
  FROM documents d, mime_map s JOIN mime_map n ON n.k = (s.k + 1) % 9
),
tiff_rows AS (
  -- closed-form raster: constant rows every third line (the planted
  -- PackBits runs), position arithmetic elsewhere
  SELECT d.doc_id, 'tiff' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST(9 + d.doc_id % 6 AS bigint) AS width,
         CAST(5 + d.doc_id % 5 AS bigint) AS height,
         CAST(sum(CASE WHEN (g.p // (9 + d.doc_id % 6)) % 3 = 2
              THEN (d.doc_id * 3 + (g.p // (9 + d.doc_id % 6)) * 13) % 256
              ELSE (d.doc_id * 3 + g.p * 13) % 256 END) AS bigint) AS m1,
         CAST(sum((g.p + 1) * (CASE WHEN (g.p // (9 + d.doc_id % 6)) % 3 = 2
              THEN (d.doc_id * 3 + (g.p // (9 + d.doc_id % 6)) * 13) % 256
              ELSE (d.doc_id * 3 + g.p * 13) % 256 END)) AS bigint) AS m2
  FROM documents d, generate_series(0, 125) g(p)
  WHERE g.p < (9 + d.doc_id % 6) * (5 + d.doc_id % 5)
  GROUP BY d.doc_id
),
warc_rows AS (
  SELECT doc_id, 'warc' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST(length(norm) AS bigint) AS width,
         CAST(6 AS bigint) AS height,
         CAST(1767225600 + (doc_id * 37) % 2592000 AS bigint) AS m1,
         CAST(coalesce(list_aggregate(
             list_transform(string_split(norm, ''), c -> ascii(c)),
             'sum'), 0) AS bigint) AS m2
  FROM (SELECT doc_id,
               upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'),
                               1, 120)) AS norm
        FROM documents)
  UNION ALL
  SELECT doc_id, 'warc', CAST(1 AS bigint),
         CAST({len(_ROBOTS)} AS bigint), CAST(6 AS bigint),
         CAST(1767225600 + (doc_id * 37) % 2592000 AS bigint),
         CAST({sum(_ROBOTS)} AS bigint)
  FROM documents WHERE doc_id % 2 = 1
),
vad_rows AS (
  -- gaps-and-islands over the closed-form PCM series: voiced iff
  -- |x| >= {VAD_THRESHOLD}, islands keyed by i - row_number(),
  -- kept when >= {VAD_MIN_RUN} samples
  SELECT doc_id, 'vad' AS codec,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1
              AS bigint) AS item_idx,
         CAST(st AS bigint) AS width, CAST(fin AS bigint) AS height,
         CAST(mx AS bigint) AS m1, CAST(sa AS bigint) AS m2
  FROM (
    SELECT doc_id, min(i) AS st, max(i) + 1 AS fin,
           max(a) AS mx, sum(a) AS sa, count(*) AS c
    FROM (
      SELECT doc_id, i, a,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM (
        SELECT d.doc_id, g.i,
               abs((d.doc_id * 31 + g.i * 17) % 2048 - 1024) AS a
        FROM documents d, generate_series(0, 127) g(i)
        WHERE g.i < 64 + d.doc_id % 64) s
      WHERE a >= {VAD_THRESHOLD})
    GROUP BY doc_id, grp)
  WHERE c >= {VAD_MIN_RUN}
),
exif_rows AS (
  -- closed-form twin of the runner's surfaced features; the byte-level
  -- strip/idempotence/pixel invariants are asserted IN the runner
  SELECT doc_id, 'exif' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST((2 + doc_id % 3) * 8 AS bigint) AS width,
         CAST(16 AS bigint) AS height,
         CAST((1 + doc_id % 8) * 1000000 + (1 + doc_id % 28) * 10000
              + (doc_id % 60) * 100
              + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
              AS bigint) AS m1,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 66 ELSE 0 END
              AS bigint) AS m2
  FROM documents
),
shot_rows AS (
  -- same pixel arithmetic as synth_shots, SAD per consecutive pair
  SELECT doc_id, 'shots' AS codec, CAST(f AS bigint) AS item_idx,
         CAST({_VW} AS bigint) AS width, CAST({_VH} AS bigint) AS height,
         CAST(sad AS bigint) AS m1,
         CAST(CASE WHEN sad >= {SHOT_THRESHOLD} THEN 1 ELSE 0 END
              AS bigint) AS m2
  FROM (
    SELECT d.doc_id, g.f,
           sum(abs(
             (d.doc_id * 31 + ((g.f + 1) // (2 + d.doc_id % 3)) * 97
              + p.p * 3 + g.f + 1) % 256
             - (d.doc_id * 31 + (g.f // (2 + d.doc_id % 3)) * 97
                + p.p * 3 + g.f) % 256)) AS sad
    FROM documents d,
         generate_series(0, 8) g(f),
         generate_series(0, {_VW * _VH - 1}) p(p)
    WHERE g.f < 5 + d.doc_id % 4
    GROUP BY d.doc_id, g.f)
),
adpcm_rows AS (
  -- IMA ADPCM: width = sample count, height = block count, m1 = sum of
  -- the block-header predictors (the EXACT samples at block starts —
  -- pins header placement and block segmentation), m2 = samples within
  -- the pinned reconstruction tolerance (== width; the runner raises
  -- on any excursion, so a codec regression reds the whole row)
  SELECT d.doc_id, 'adpcm' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST(200 + d.doc_id % 100 AS bigint) AS width,
         CAST(CASE WHEN 200 + d.doc_id % 100 > 258 THEN 3 ELSE 2 END
              AS bigint) AS height,
         CAST((SELECT sum(abs((d.doc_id * 13 + s.s * 37) % 4000 - 2000)
                          - 1000)
               FROM (SELECT 0 AS s UNION ALL SELECT 129
                     UNION ALL SELECT 258) s
               WHERE s.s < 200 + d.doc_id % 100) AS bigint) AS m1,
         CAST(200 + d.doc_id % 100 AS bigint) AS m2
  FROM documents d
),
mp3_rows AS (
  -- MPEG-1 Layer I: width = subband sample slots (frames*32*12),
  -- height = frame count, m1 = integer sum of the fixture lattice over
  -- the TRANSMITTED (frame, subband, sample) cells — the runner only
  -- accumulates it after pinning each decoded sample inside the
  -- quantizer-step tolerance, so a codec regression raises and reds
  -- the row — m2 = total encoded bytes from the closed-form slot
  -- arithmetic (header 32 + alloc 128 + 6*n_active + 12*sum(nb) bits,
  -- whole 32-bit slots), asserted byte-exact against the bit packer
  SELECT d.doc_id, 'mp3' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST((1 + d.doc_id % 3) * 384 AS bigint) AS width,
         CAST(1 + d.doc_id % 3 AS bigint) AS height,
         CAST((SELECT sum((d.doc_id * 7 + f.f * 31 + sb.sb * 13
                           + t.t * 29) % 2001 - 1000)
               FROM generate_series(0, 2) f(f),
                    generate_series(0, 31) sb(sb),
                    generate_series(0, 11) t(t)
               WHERE f.f < 1 + d.doc_id % 3
                 AND sb.sb < 8 + d.doc_id % 25) AS bigint) AS m1,
         CAST((1 + d.doc_id % 3) *
              (((160 + 6 * (8 + d.doc_id % 25)
                 + 12 * (SELECT sum(2 + (d.doc_id + sb.sb) % 9)
                         FROM generate_series(0, 31) sb(sb)
                         WHERE sb.sb < 8 + d.doc_id % 25)) + 31)
               // 32 * 4) AS bigint) AS m2
  FROM documents d
),
h264_rows AS (
  -- H.264 structural layer: width/height = the SPS parse's cropped
  -- dimensions (closed form: mbs*16 minus 2x crop offsets == the
  -- fixture's pixel dims), m1 = sum over slices of frame_num*10 +
  -- slice_type (IDR I-slice then P-slices: 2 + 5*nf*(nf-1)), m2 =
  -- width*height. The runner raises on any NAL-walk / EP / SPS /
  -- slice-header mismatch, so a parser regression reds the row.
  SELECT d.doc_id, 'h264' AS codec, CAST(0 AS bigint) AS item_idx,
         CAST(48 + 2 * (d.doc_id % 71) AS bigint) AS width,
         CAST(32 + 2 * (d.doc_id % 37) AS bigint) AS height,
         CAST(2 + 5 * (1 + d.doc_id % 4) * (d.doc_id % 4) AS bigint) AS m1,
         CAST((48 + 2 * (d.doc_id % 71)) * (32 + 2 * (d.doc_id % 37))
              AS bigint) AS m2
  FROM documents d
)
SELECT * FROM gif_rows UNION ALL SELECT * FROM jpeg_rows
UNION ALL SELECT * FROM pdftext_rows
UNION ALL SELECT * FROM warc_rows UNION ALL SELECT * FROM sniff_rows
UNION ALL SELECT * FROM vad_rows UNION ALL SELECT * FROM tiff_rows
UNION ALL SELECT * FROM exif_rows
UNION ALL SELECT * FROM shot_rows
UNION ALL SELECT * FROM adpcm_rows
UNION ALL SELECT * FROM mp3_rows
UNION ALL SELECT * FROM h264_rows
"""


# --- TIFF (both byte orders, multi-strip, PackBits) -----------------------


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits RLE (the TIFF compression=32773 scheme): runs of
    >= 3 equal bytes become (257-n, byte) repeat packets, the rest
    literal packets; both packet kinds cap at 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and data[i + nxt] == data[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        chunk = data[lit_start:i]
        out.append(len(chunk) - 1)
        out.extend(chunk)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        c = data[i]
        i += 1
        if c == 128:  # noop
            continue
        if c < 128:
            out.extend(data[i : i + c + 1])
            i += c + 1
        else:
            out.extend(bytes([data[i]]) * (257 - c))
            i += 1
    return bytes(out)


_TIFF_ROWS_PER_STRIP = 4


def tiff_encode(
    pixels: bytes, w: int, h: int, *, big_endian: bool, packbits: bool
) -> bytes:
    """Grayscale 8-bit baseline TIFF: header + strip data + one IFD
    (width/length/bits/compression/photometric/strip offsets/samples/
    rows-per-strip/strip byte counts), multi-strip at
    _TIFF_ROWS_PER_STRIP rows, either byte order."""
    import struct

    e = ">" if big_endian else "<"
    strips = []
    for y0 in range(0, h, _TIFF_ROWS_PER_STRIP):
        raw = pixels[y0 * w : min(y0 + _TIFF_ROWS_PER_STRIP, h) * w]
        strips.append(_packbits_encode(raw) if packbits else raw)
    # layout: header(8) | strip data | IFD | value arrays
    offs, pos = [], 8
    for s in strips:
        offs.append(pos)
        pos += len(s)
    ifd_off = pos
    n_entries = 9
    ifd_size = 2 + n_entries * 12 + 4
    arr_off = ifd_off + ifd_size
    ns = len(strips)

    def entry(tag, typ, cnt, val):
        return struct.pack(e + "HHI", tag, typ, cnt) + val

    def short_val(v):
        return struct.pack(e + "HH", v, 0)

    def long_val(v):
        return struct.pack(e + "I", v)

    if ns == 1:
        off_val, cnt_val = long_val(offs[0]), long_val(len(strips[0]))
        arrays = b""
    else:
        off_val = long_val(arr_off)
        cnt_val = long_val(arr_off + 4 * ns)
        arrays = struct.pack(e + f"{ns}I", *offs) + struct.pack(
            e + f"{ns}I", *[len(s) for s in strips]
        )
    ifd = struct.pack(e + "H", n_entries)
    ifd += entry(256, 3, 1, short_val(w))
    ifd += entry(257, 3, 1, short_val(h))
    ifd += entry(258, 3, 1, short_val(8))
    ifd += entry(259, 3, 1, short_val(32773 if packbits else 1))
    ifd += entry(262, 3, 1, short_val(1))  # BlackIsZero
    ifd += entry(273, 4, ns, off_val)
    ifd += entry(277, 3, 1, short_val(1))
    ifd += entry(278, 3, 1, short_val(_TIFF_ROWS_PER_STRIP))
    ifd += entry(279, 4, ns, cnt_val)
    ifd += struct.pack(e + "I", 0)  # next IFD
    header = struct.pack(
        e + "2sHI", b"MM" if big_endian else b"II", 42, ifd_off
    )
    return header + b"".join(strips) + ifd + arrays


def tiff_decode(payload: bytes) -> tuple[int, int, bytes]:
    """(w, h, pixels) from a grayscale baseline TIFF — walks the IFD in
    either byte order, reads multi-strip data, undoes PackBits."""
    import struct

    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, ifd_off = struct.unpack(e + "HI", payload[2:8])
    if magic != 42:
        raise ValueError("not a TIFF: magic != 42")
    (n,) = struct.unpack(e + "H", payload[ifd_off : ifd_off + 2])
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        o = ifd_off + 2 + i * 12
        tag, typ, cnt = struct.unpack(e + "HHI", payload[o : o + 8])
        tags[tag] = (typ, cnt, payload[o + 8 : o + 12])

    def scalar(tag):
        typ, cnt, raw = tags[tag]
        if typ == 3:
            return struct.unpack(e + "H", raw[:2])[0]
        return struct.unpack(e + "I", raw)[0]

    def longs(tag):
        typ, cnt, raw = tags[tag]
        if cnt == 1:
            return [struct.unpack(e + "I", raw)[0]]
        off = struct.unpack(e + "I", raw)[0]
        return list(
            struct.unpack(e + f"{cnt}I", payload[off : off + 4 * cnt])
        )

    w, h = scalar(256), scalar(257)
    if scalar(258) != 8 or scalar(277) != 1:
        raise ValueError("only 8-bit grayscale supported")
    comp = scalar(259)
    if comp not in (1, 32773):
        raise ValueError(f"unsupported compression {comp}")
    out = bytearray()
    for off, cnt in zip(longs(273), longs(279)):
        strip = payload[off : off + cnt]
        out.extend(_packbits_decode(strip) if comp == 32773 else strip)
    if len(out) != w * h:
        raise ValueError("strip data does not cover the raster")
    return w, h, bytes(out)


def synth_tiff(doc_id: int) -> tuple[bytes, int, int, bytes]:
    """(payload, w, h, pixels): deterministic grayscale raster —
    byte order flips by doc parity, PackBits on doc_id%3==0 (runs are
    planted every third row so the RLE path really compresses)."""
    d = int(doc_id)
    w, h = 9 + d % 6, 5 + d % 5
    px = bytearray()
    for p in range(w * h):
        if (p // w) % 3 == 2:
            px.append((d * 3 + (p // w) * 13) % 256)  # constant row: runs
        else:
            px.append((d * 3 + p * 13) % 256)
    payload = tiff_encode(
        bytes(px), w, h, big_endian=(d % 2 == 1), packbits=(d % 3 == 0)
    )
    return payload, w, h, bytes(px)


# --- EXIF (TIFF IFD inside JPEG APP1): parse + GPS strip ------------------
#
# The image-side PII pass a multimodal corpus needs: camera JPEGs carry
# GPS coordinates in an APP1 Exif block (a TIFF IFD tree — the SAME
# structure as the TIFF codec above), and a training-data pipeline must
# strip location while preserving orientation (needed to rotate before
# OCR) and capture time (needed for dedup/recency). Reference dispatch
# ppocr/utils/utility.py:119-152 hands JPEG bytes straight to cv2,
# which silently drops metadata; here the metadata walk is explicit.
# Both byte orders are exercised (d%2, the TIFF codec convention).

_EXIF_TYPE_SIZES = {2: 1, 3: 2, 4: 4, 5: 8}  # ASCII, SHORT, LONG, RATIONAL


def exif_build(
    orientation: int,
    datetime_s: str,
    gps: tuple[tuple[int, int], ...] | None,
    big_endian: bool,
) -> bytes:
    """APP1 payload: 'Exif\\0\\0' + TIFF block with IFD0 (Orientation
    0x0112, ExifIFD ptr 0x8769, optional GPSIFD ptr 0x8825), an Exif
    sub-IFD (DateTimeOriginal 0x9003), and an optional GPS sub-IFD
    (GPSLatitudeRef 0x0001 inline + GPSLatitude 0x0002 as 3
    rationals)."""
    import struct

    e = ">" if big_endian else "<"
    dt = datetime_s.encode("ascii") + b"\0"
    if len(dt) != 20:
        raise ValueError("EXIF datetime must be 19 chars")

    def entry(tag, typ, cnt, val4):
        return struct.pack(e + "HHI", tag, typ, cnt) + val4

    n0 = 3 if gps is not None else 2
    ifd0_at = 8
    exif_at = ifd0_at + 2 + n0 * 12 + 4
    dt_at = exif_at + 2 + 12 + 4
    gps_at = dt_at + 20
    rat_at = gps_at + 2 + 2 * 12 + 4

    def short_val(v):
        return struct.pack(e + "HH", v, 0)

    def long_val(v):
        return struct.pack(e + "I", v)

    ifd0 = [
        entry(0x0112, 3, 1, short_val(orientation)),
        entry(0x8769, 4, 1, long_val(exif_at)),
    ]
    if gps is not None:
        ifd0.append(entry(0x8825, 4, 1, long_val(gps_at)))
    out = bytearray()
    out += (b"MM\x00\x2a" if big_endian else b"II\x2a\x00")
    out += struct.pack(e + "I", ifd0_at)
    out += struct.pack(e + "H", n0) + b"".join(ifd0)
    out += struct.pack(e + "I", 0)
    out += struct.pack(e + "H", 1)
    out += entry(0x9003, 2, 20, long_val(dt_at))
    out += struct.pack(e + "I", 0)
    out += dt
    if gps is not None:
        out += struct.pack(e + "H", 2)
        out += entry(0x0001, 2, 2, b"N\x00\x00\x00")
        out += entry(0x0002, 5, 3, long_val(rat_at))
        out += struct.pack(e + "I", 0)
        for num, den in gps:
            out += struct.pack(e + "II", num, den)
    return b"Exif\x00\x00" + bytes(out)


def _exif_ifd(data: bytes, at: int, e: str) -> tuple[dict, int]:
    """Parse one IFD at `at` (offsets relative to the TIFF header):
    {tag: (type, count, value_bytes_or_offset_payload)} + next ptr."""
    import struct

    (n,) = struct.unpack_from(e + "H", data, at)
    entries = {}
    for i in range(n):
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, at + 2 + i * 12)
        raw = data[at + 2 + i * 12 + 8 : at + 2 + i * 12 + 12]
        size = _EXIF_TYPE_SIZES[typ] * cnt
        if size > 4:
            (off,) = struct.unpack_from(e + "I", raw, 0)
            val = data[off : off + size]
        else:
            val = raw[:size]
        entries[tag] = (typ, cnt, val)
    (nxt,) = struct.unpack_from(e + "I", data, at + 2 + n * 12)
    return entries, nxt


def exif_parse(jpeg: bytes) -> dict | None:
    """Walk the JPEG marker stream to APP1/'Exif', parse the IFD tree.
    Returns {orientation, datetime, gps (list of (num, den)) | None,
    big_endian} or None when no Exif APP1 exists."""
    import struct

    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(jpeg) and jpeg[pos] == 0xFF:
        marker = jpeg[pos + 1]
        if marker in (0xD8, 0xD9, 0xDA):
            break
        (seglen,) = struct.unpack_from(">H", jpeg, pos + 2)
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == b"Exif\x00\x00":
            data = jpeg[pos + 10 : pos + 2 + seglen]
            e = ">" if data[:2] == b"MM" else "<"
            (ifd0_at,) = struct.unpack_from(e + "I", data, 4)
            ifd0, _ = _exif_ifd(data, ifd0_at, e)
            out = {
                "big_endian": e == ">",
                "orientation": None,
                "datetime": None,
                "gps": None,
            }
            if 0x0112 in ifd0:
                (out["orientation"],) = struct.unpack_from(
                    e + "H", ifd0[0x0112][2], 0
                )
            if 0x8769 in ifd0:
                (off,) = struct.unpack_from(e + "I", ifd0[0x8769][2], 0)
                sub, _ = _exif_ifd(data, off, e)
                if 0x9003 in sub:
                    out["datetime"] = (
                        sub[0x9003][2].rstrip(b"\0").decode("ascii")
                    )
            if 0x8825 in ifd0:
                (off,) = struct.unpack_from(e + "I", ifd0[0x8825][2], 0)
                sub, _ = _exif_ifd(data, off, e)
                if 0x0002 in sub:
                    raw = sub[0x0002][2]
                    out["gps"] = [
                        struct.unpack_from(e + "II", raw, k * 8)
                        for k in range(sub[0x0002][1])
                    ]
            return out
        pos += 2 + seglen
    return None


def exif_strip_gps(jpeg: bytes) -> bytes:
    """Rebuild the APP1 block WITHOUT the GPS IFD (orientation and
    capture time preserved, pixels untouched); byte-identical
    passthrough when no GPS (or no Exif) is present."""
    import struct

    meta = exif_parse(jpeg)
    if meta is None or meta["gps"] is None:
        return jpeg
    app1 = exif_build(
        meta["orientation"], meta["datetime"], None, meta["big_endian"]
    )
    # splice: locate the existing APP1 and replace it
    pos = 2
    while pos + 4 <= len(jpeg) and jpeg[pos] == 0xFF:
        marker = jpeg[pos + 1]
        (seglen,) = struct.unpack_from(">H", jpeg, pos + 2)
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return (
                jpeg[:pos]
                + b"\xff\xe1"
                + struct.pack(">H", len(app1) + 2)
                + app1
                + jpeg[pos + 2 + seglen :]
            )
        pos += 2 + seglen
    raise ValueError("exif_parse found APP1 but splice did not")


# GPS removal shrinks the stream by a fixed amount under this layout:
# the IFD0 pointer entry (12) + GPS IFD (2 + 2*12 + 4) + 3 rationals
# (24) = 66 bytes; asserted per payload in the runner, pinned closed-
# form in the oracle.
EXIF_GPS_DELTA = 66


def synth_exif_jpeg(doc_id: int) -> bytes:
    """synth_jpeg with an Exif APP1 spliced after SOI: orientation
    1 + d%8, capture time keyed by d, GPS present iff d%3 == 0,
    byte order flips with d%2 (TIFF codec convention)."""
    d = doc_id
    meta = exif_build(
        1 + d % 8,
        f"2026:08:{1 + d % 28:02d} 12:{d % 60:02d}:00",
        (((d % 90), 1), ((d % 60), 1), ((d * 7) % 6000, 100))
        if d % 3 == 0
        else None,
        big_endian=(d % 2 == 0),
    )
    base = synth_jpeg(d)
    import struct

    return (
        base[:2]
        + b"\xff\xe1"
        + struct.pack(">H", len(meta) + 2)
        + meta
        + base[2:]
    )
