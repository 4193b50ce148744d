"""Per-column-block codec auto-selector.

Replaces the reference's *static* dtype-driven dispatch — "encoding = PLAIN
unless the pandas dtype is categorical, then RLE_DICTIONARY"
(fastparquet/writer.py:519, 601-631, dispatch table writer.py:411-414) —
with sampling-based selection per the north rule: cardinality, mean run
length, (for ints) delta width, and trial encodes of a small sample
(FSST, line splitting, byte-stream split), scored into a predicted
encoded size per candidate codec; the smallest predicted size wins.

The sampling style mirrors the reference's own page-sizing heuristic
(``_rows_per_page`` samples string lengths, fastparquet/writer.py:458-484).
The codec-choice statistics live in the store: every block row carries
its ``codec``, ``raw_size``, ``encoded_size`` and ``encode_ms``, and
the lineage rolled up from them gives each part's ``codecs``.
"""
from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 — binds pa.compute

from ..kernels import bitpack, fsst
from . import encoder as enc

SAMPLE = 8192  # per-block sampling cap: selection cost stays O(sample)


@dataclass
class Choice:
    codec: int
    dtype_id: int

    @property
    def codec_name(self) -> str:
        return enc.CODEC_NAMES[self.codec]


def _mean_run_len(v: np.ndarray) -> float:
    if len(v) < 2:
        return float(len(v))
    changes = int((v[1:] != v[:-1]).sum())
    return len(v) / (changes + 1)


def choose(arr: pa.Array, compressed: bool = False,
           hints: dict | None = None) -> Choice:
    """Pick a codec for one column chunk by predicted encoded size.
    ``compressed=True`` signals a downstream block codec: float columns
    then also trial BYTE_STREAM_SPLIT, which only pays off post-compression.

    ``hints`` amortizes the EXPENSIVE sampled trials across the many
    sub-blocks one task encodes (ingest produces a sub-block per
    (input partition × part) — re-running the FSST trial
    encode on every one dominated the whole encode pass, measured 60%% of
    UDF time at bench scale): pass a mutable dict scoped to one column of
    one task and the trial ratios (``fsst_ratio``, ``bss_gain``) are
    computed once and reused.  Cheap per-block stats (cardinality, runs,
    widths, validation-dependent codecs like DECFLOAT/HEXPACK) are always
    recomputed per block, so choices still track distribution drift."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dt = enc.dtype_id_for_arrow(arr.type)
    n = len(arr)
    if enc._is_map_dt(dt):
        # key/value codecs are chosen recursively inside the MAP encoder
        return Choice(enc.MAP, dt)
    if dt >= enc.DT_LIST_BASE:
        # child codec is chosen recursively inside the LIST encoder
        # (covers any nesting depth: list ids compose, e.g. 200 = list<list>)
        return Choice(enc.LIST, dt)
    vals = arr.drop_null() if arr.null_count else arr
    nv = len(vals)
    if nv == 0:
        return Choice(enc.PLAIN, dt)
    samp = vals.slice(0, min(nv, SAMPLE))

    if dt in (enc.DT_STRING, enc.DT_BINARY):
        return _choose_string(samp, vals, dt, hints)
    if dt == enc.DT_BOOL:
        return Choice(enc.BITPACK, dt)
    if dt in (enc.DT_FLOAT64, enc.DT_FLOAT32):
        return _choose_float(samp, vals, dt, n, compressed, hints)
    return _choose_int(samp, vals, dt)


def _choose_string(samp: pa.Array, vals: pa.Array, dt: int,
                   hints: dict | None = None) -> Choice:
    k = len(samp)
    nv = len(vals)
    lens = pa.compute.binary_length(samp)
    avg_len = float(pa.compute.mean(lens).as_py() or 0.0)
    distinct = len(pa.compute.unique(samp))
    distinct_ratio = distinct / k

    plain_size = nv * (avg_len + 4)
    sizes = {enc.PLAIN: plain_size}
    if dt == enc.DT_STRING and 8 <= avg_len and avg_len % 2 == 0:
        # hex-shaped? sample check first, then the cheap full-column
        # vectorized validation (encode re-validates and raises otherwise)
        from ..kernels import hexpack
        if hexpack.is_applicable(samp.cast(pa.string())) and \
                hexpack.is_applicable(vals.cast(pa.string())):
            sizes[enc.HEXPACK] = nv * avg_len / 2 + 6
    # dict: labels + codes at dict width (ignore run savings; conservative)
    est_distinct_total = distinct if distinct < 0.5 * k else int(distinct_ratio * nv)
    width = bitpack.width_from_max(max(est_distinct_total - 1, 1))
    sizes[enc.DICT] = est_distinct_total * (avg_len + 4) + nv * width / 8
    if dt == enc.DT_STRING and avg_len >= 32:
        # line-dictionary: sample line-level repetition (code-text shape);
        # the sampled split is also hint-cacheable across sub-blocks
        if hints is not None and "line_trial" in hints:
            trial = hints["line_trial"]
        else:
            import pyarrow.compute as pc
            k_line = min(k, 512)
            s_lines = pc.list_flatten(
                pc.split_pattern(samp.slice(0, k_line), "\n"))
            n_lines = len(s_lines)
            if n_lines > k_line:  # multi-line values — linedict candidate
                nd = len(pc.unique(s_lines))
                trial = {
                    "line_ratio": nd / n_lines,
                    "mean_line": float(pc.mean(
                        pc.binary_length(s_lines)).as_py() or 0.0),
                    "lines_per_row": n_lines / k_line,
                    "nd": nd,
                }
            else:
                trial = None
            if hints is not None:
                hints["line_trial"] = trial
        if trial is not None:
            line_ratio = trial["line_ratio"]
            est_lines_total = trial["lines_per_row"] * nv
            est_dict = (trial["nd"] if line_ratio < 0.5
                        else line_ratio * est_lines_total)
            lw = bitpack.width_from_max(max(int(est_dict) - 1, 1))
            sizes[enc.LINEDICT] = (est_dict * (trial["mean_line"] + 4)
                                   + est_lines_total * lw / 8
                                   + nv * 4)
    # FSST builds a symbol table per block (3 merge rounds + full-stream
    # substitution): measured ~2-5 ms fixed cost regardless of block size,
    # so on tiny blocks it burns more time than it can ever repay.  Gate
    # it to blocks >= 64 KiB: ingest-time sub-blocks fall back to
    # dict/plain, and compaction — which re-encodes whole
    # parts, always > 64 KiB — brings FSST back where it pays.  This is
    # the LSM split: cheap codecs on the ingest path, best codecs after
    # compaction.
    if (dt == enc.DT_STRING and avg_len >= 8 and distinct_ratio > 0.05
            and nv * avg_len >= 65536):
        if hints is not None and "fsst_ratio" in hints:
            ratio = hints["fsst_ratio"]
        else:
            # trial-encode a SMALL sample: cap ~64 KiB / 256 rows so
            # selection cost stays O(sample), not O(column) (the full
            # column is encoded once, by the chosen codec — not twice)
            t_rows = min(k, max(int(65536 / max(avg_len, 1.0)), 64), 256)
            trial_arr = samp.slice(0, t_rows).cast(pa.string())
            trial = fsst.encode(trial_arr)
            t_lens = pa.compute.binary_length(trial_arr)
            sample_bytes = float(pa.compute.sum(t_lens).as_py() or 0)
            ratio = len(trial) / max(sample_bytes + 4.0 * t_rows, 1.0)
            if hints is not None:
                hints["fsst_ratio"] = ratio
        # cost-aware: FSST encodes ~10× slower than plain/dict, so charge a
        # 1.3× penalty — it wins only when it saves real space (still well
        # under the reference's PLAIN output when chosen)
        sizes[enc.FSST] = ratio * plain_size * 1.3
    codec = min(sizes, key=sizes.get)
    return Choice(codec, dt)


def _choose_float(samp: pa.Array, vals: pa.Array, dt: int, n: int,
                  compressed: bool = False,
                  hints: dict | None = None) -> Choice:
    k = len(samp)
    distinct = len(pa.compute.unique(samp))
    itemsize = 8 if dt == enc.DT_FLOAT64 else 4
    ratio = distinct / k
    # predicted sizes, same style as ints/strings: dictionary pays off
    # whenever labels + packed codes undercut raw values
    est_distinct_total = distinct if ratio < 0.5 else int(ratio * n)
    width = bitpack.width_from_max(max(est_distinct_total - 1, 1))
    sizes = {enc.PLAIN: n * itemsize}
    np_t = np.float64 if dt == enc.DT_FLOAT64 else np.float32
    s_np = np.asarray(samp, dtype=np_t)
    # dictionary unifies values that compare EQUAL but differ in bits —
    # all NaN payloads collapse to the first-seen NaN, and -0.0 to +0.0
    # (Arrow dictionary_encode compares by value) — so such pages keep
    # bit-exact codecs only (PLAIN/BSS/DECFLOAT preserve payloads; both
    # cases found by property fuzzing)
    # drop nulls BEFORE the check: converting a null-bearing Arrow array
    # fills null slots with NaN, which disqualified DICT for ANY
    # null-bearing float page even when no real NaN/-0.0 exists (r3
    # ADVICE — a compression regression, not a correctness one)
    v_np = np.asarray(vals.drop_null(), dtype=np_t)
    bit_unsafe = bool(np.isnan(v_np).any()
                      or (np.signbit(v_np) & (v_np == 0)).any())
    if not bit_unsafe:
        sizes[enc.DICT] = est_distinct_total * itemsize + n * width / 8
    scale = enc.decfloat_scale(s_np)
    if scale is not None:
        # sample rejects cheaply; the full-column validation (vectorized,
        # hexpack-style precedent) may settle on a larger scale — what
        # matters is that SOME exact scale exists before committing
        full_scale = enc.decfloat_scale(np.asarray(vals, dtype=np_t))
        if full_scale is not None:
            ints = np.rint(s_np.astype(np.float64) * full_scale)
            span = int(ints.max() - ints.min()) if k else 0
            iw = bitpack.width_from_max(max(span, 1))
            sizes[enc.DECFLOAT] = n * iw / 8 + 17
    if compressed and enc.DECFLOAT not in sizes:
        # BYTE_STREAM_SPLIT has identical RAW size to PLAIN; it wins only
        # through the downstream block codec, so rank the two by a sampled
        # trial compression (same O(sample) budget as the FSST trial,
        # hint-cached across sub-blocks the same way)
        if hints is not None and "bss_gain" in hints:
            gain = hints["bss_gain"]
        else:
            import zlib

            from ..kernels import bss as bss_k
            t = np.asarray(samp, dtype=np_t)[:2048]
            gz_plain = len(zlib.compress(t.tobytes(), 1))
            gz_bss = len(zlib.compress(bss_k.split(t), 1))
            gain = round(1 - gz_bss / max(gz_plain, 1), 4)
            if hints is not None:
                hints["bss_gain"] = gain
        if gain > 0:
            sizes[enc.BSS] = n * itemsize * (1 - gain)
    codec = min(sizes, key=sizes.get)
    return Choice(codec, dt)


def _choose_int(samp: pa.Array, vals: pa.Array, dt: int) -> Choice:
    v = enc._to_int_view(samp, dt)
    nv = len(vals)
    k = len(v)
    lo, hi = int(v.min()), int(v.max())
    range_width = bitpack.width_from_max(max(hi - lo, 0))
    distinct = len(pa.compute.unique(samp))
    run_len = _mean_run_len(v)
    deltas = np.diff(v) if k > 1 else np.zeros(1, dtype=np.int64)
    # miniblock-style estimate of delta width (frame-of-reference per 32)
    pad = (-len(deltas)) % 32
    dpad = np.pad(deltas, (0, pad), constant_values=deltas[-1] if len(deltas) else 0)
    mb = dpad.reshape(-1, 32)
    mb_span = (mb.max(axis=1) - mb.min(axis=1)).astype(np.uint64)
    delta_width = float(np.mean([bitpack.width_from_max(int(s)) for s in mb_span])) if len(mb) else 0.0

    itemsize = {enc.DT_INT64: 8, enc.DT_TIMESTAMP_US: 8, enc.DT_INT32: 4,
                enc.DT_DATE32: 4, enc.DT_INT16: 2, enc.DT_INT8: 1,
                enc.DT_UINT64: 8, enc.DT_UINT32: 4, enc.DT_UINT16: 2,
                enc.DT_UINT8: 1, enc.DT_DURATION_US: 8}[dt]
    sizes = {enc.PLAIN: nv * itemsize}
    sizes[enc.BITPACK] = nv * range_width / 8 + 9
    sizes[enc.DELTA] = nv * (delta_width / 8) + nv / 128 * 6 + 16
    if run_len >= 4:
        # hybrid: long runs cost ~ (header+value) per run, rest bit-packed
        n_runs = nv / run_len
        sizes[enc.RLE_FOR] = n_runs * (2 + max(1, range_width // 8)) + 9
    if distinct / k < 0.5:
        est_distinct_total = distinct if distinct < 0.5 * k else int(distinct / k * nv)
        width = bitpack.width_from_max(max(est_distinct_total - 1, 1))
        sizes[enc.DICT] = est_distinct_total * itemsize + nv * width / 8
    codec = min(sizes, key=sizes.get)
    return Choice(codec, dt)
