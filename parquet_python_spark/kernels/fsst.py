"""FSST-style symbol-table string compression (new — absent from the
reference; fastparquet's string encodings are only PLAIN byte-array and
dictionary, see fastparquet/writer.py:411-414).

Follows the published FSST idea (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020): a per-block table of at most 255
symbols of 1..8 bytes, each string encoded as a sequence of 1-byte codes,
with an escape mechanism for bytes not covered by the table.

Implementation choices made for *whole-buffer numpy vectorization* (the
per-row-Python ban of this build):

* The symbol table is built by up to 3 rounds of byte-pair merging over a
  sample (each round counts pair frequencies with one ``np.bincount``,
  then merges the winning pairs across the whole buffer with one vectorized
  substitution pass) — symbols therefore have power-of-two-ish lengths up
  to 8 bytes, a simplification of FSST's generation loop with the same
  table shape.
* Escapes use code 255 plus a *side literal buffer* instead of an inline
  escaped byte: the code stream stays context-free, so the decoder
  classifies every position with pure array ops (an inline escape would
  make literal-vs-marker classification sequential).
* Greedy-left overlap resolution during merging is done with the run-parity
  trick (within each run of consecutive candidate positions, keep the even
  offsets), which is exactly greedy-left, vectorized.

Block layout:
    u8  n_merged | (u8 len, bytes expansion) * n_merged
    u8  n_codes  | u16 code_to_id[n_codes]              (LE)
    u32 n_rows   | i32 row_code_offsets[n_rows + 1]     (LE)
    u32 code_len | code stream bytes
    u32 side_len | side literal bytes
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa

SENTINEL = 511          # row separator in symbol space; never merged
BASE = 256              # symbol ids 0..255 are literal bytes
MAX_MERGED = 224        # merged-symbol budget; the remaining ~31 codes go to
                        # the most frequent base bytes (rare bytes escape via
                        # the side buffer) — measured 0.32 vs 0.48 ratio on
                        # prose-like text against a 128 budget
N_CODES = 255           # codes 0..254 are table symbols; 255 = escape
ESCAPE = 255
ROUNDS = 3              # symbol length up to 2**ROUNDS = 8 bytes
# Per-round merge budgets (unused budget carries forward).  A single
# shared budget let round 0 spend all 224 symbols on 2-byte pairs on
# text-like input, leaving rounds 1-2 as identity — the table never
# contained a symbol longer than 2 bytes.  Reserving budget for later
# rounds builds the 3-8 byte symbols where most of FSST's win lives:
# measured ratio 0.313 -> 0.234 on prose pages and 0.553 -> 0.459 on
# synthetic code content, at ~10-15% single-thread encode cost (later
# rounds run on already-shrunk streams).
ROUND_BUDGETS = (96, 96, 32)
SAMPLE_BYTES = 4 << 20  # table is built from at most 4 MiB of sample.
# Sized so a standard page's per-column text share falls WITHIN the
# sample: _build_table's merged output is then reused directly and the
# block is merged once, not twice (measured 0.008 -> 0.012+ GB/s).  Above
# the bound the table quality still caps at the sample prefix.


def _strings_to_symbols(arr: pa.Array) -> tuple[np.ndarray, int]:
    """Arrow string array -> uint16 symbol stream with SENTINEL between rows.

    Returns (stream, n_rows).  Row boundaries are recoverable because
    SENTINEL never merges and never serializes.
    """
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype="<i4", count=arr.offset + n + 1)[arr.offset:]
    data_buf = arr.buffers()[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)[offsets[0] : offsets[-1]]
        if data_buf is not None
        else np.zeros(0, np.uint8)
    )
    lengths = np.diff(offsets)
    total = len(data) + n  # one sentinel after each row
    stream = np.empty(total, dtype=np.uint16)
    # Positions of sentinels: after each row's bytes, shifted by row index.
    sent_pos = (offsets[1:] - offsets[0]) + np.arange(1, n + 1) - 1
    mask = np.ones(total, dtype=bool)
    mask[sent_pos] = False
    stream[~mask] = SENTINEL
    stream[mask] = data
    return stream, n


def _greedy_left(cand: np.ndarray) -> np.ndarray:
    """Positions chosen by greedy-left from a boolean candidate mask:
    within each run of consecutive True, the even offsets.  Index-array
    formulation — fastest when candidates are SPARSE (cost scales with
    the candidate count, after one flatnonzero pass)."""
    idx = np.flatnonzero(cand)
    if len(idx) == 0:
        return idx
    run_start = np.empty(len(idx), dtype=bool)
    run_start[0] = True
    run_start[1:] = np.diff(idx) > 1
    # offset within run = idx - value of run start, computed via forward fill
    starts = idx[run_start]
    run_id = np.cumsum(run_start) - 1
    offset = idx - starts[run_id]
    return idx[offset % 2 == 0]


def _greedy_left_mask(cand: np.ndarray) -> np.ndarray:
    """Greedy-left as a boolean CHOSEN mask, fixed-length passes only (no
    index arrays): on text, round-0 candidates cover ~90% of positions and
    the index path's gathers dominate the whole table build (measured
    145 ms vs 41 ms on a 4.3M-symbol stream).  ``s`` counts candidates
    inclusively; forward-maxing its value at non-candidate positions gives
    the count at each run's start, so ``s - ff`` is the 1-based offset
    within the run and odd values are the greedy-left picks."""
    s = np.cumsum(cand, dtype=np.int32)
    ff = np.maximum.accumulate(np.where(cand, np.int32(0), s))
    return cand & (((s - ff) & 1) == 1)


def _apply_merges(stream: np.ndarray, lut: np.ndarray,
                  new_ids: np.ndarray | None = None) -> np.ndarray:
    """One merge round: replace chosen pairs (a[i], a[i+1]) with lut value.

    ``new_ids`` (= lut[pair keys], same length as the pair count) may be
    passed in by a caller that already materialized it for pair counting —
    recomputing it was ~20% of each build round."""
    if len(stream) < 2:
        return stream
    if new_ids is None:
        keys = stream[:-1].astype(np.uint32) * 512 + stream[1:]
        new_ids = lut[keys]
    cand = new_ids != 0xFFFF
    n_cand = np.count_nonzero(cand)
    if n_cand == 0:
        return stream
    # caller-owned buffer (built by _strings_to_symbols or a prior round):
    # mutate in place instead of copying 2 bytes/symbol per round
    if n_cand * 4 >= len(cand):
        # dense (text round 0): mask path, no index arrays
        chosen = _greedy_left_mask(cand)
        stream[:-1][chosen] = new_ids[chosen]
        keep = np.empty(len(stream), dtype=bool)
        keep[0] = True
        np.logical_not(chosen, out=keep[1:])
        return stream[keep]
    chosen = _greedy_left(cand)
    if len(chosen) == 0:
        return stream
    stream[chosen] = new_ids[chosen]
    delete = np.zeros(len(stream), dtype=bool)
    delete[chosen + 1] = True
    return stream[~delete]


def _build_table(sample: np.ndarray):
    """Build merge rounds from a symbol sample.

    Returns (luts, expansions, merged_sample) where luts[r] maps pair-key
    -> merged id for round r, expansions[j] is the byte expansion of
    merged id BASE + j, and merged_sample is the sample with every round
    applied — rounds that skip application append an identity (all-0xFFFF)
    lut, so merged_sample is exactly what applying all luts to the sample
    yields.  When the sample IS the whole block (every block up to
    SAMPLE_BYTES — i.e. all standard pages), the caller reuses it and
    skips re-merging the block from scratch."""
    expansions: list[bytes] = []
    luts: list[np.ndarray] = []
    exp_of: dict[int, bytes] = {}
    # byte length of each symbol id's expansion (base bytes = 1; SENTINEL
    # never appears in a candidate pair: its rows and columns of the pair
    # count table are zeroed before merging)
    exp_len = np.ones(512, dtype=np.int64)
    stream = sample
    next_id = BASE
    carry = 0  # unused per-round budget rolls into the next round
    for rnd in range(ROUNDS):
        round_cap = ROUND_BUDGETS[rnd] + carry
        if next_id - BASE >= MAX_MERGED or len(stream) < 2:
            luts.append(np.full(512 * 512, 0xFFFF, dtype=np.uint16))
            carry = round_cap
            continue
        keys = stream[:-1].astype(np.uint32) * 512 + stream[1:]
        # Count ALL pairs, then zero the sentinel-involving rows/columns of
        # the 512x512 count table — cheaper than materializing a masked
        # copy of the key stream (two table slices vs three full passes)
        counts = np.bincount(keys, minlength=512 * 512)
        counts[SENTINEL * 512:(SENTINEL + 1) * 512] = 0
        counts[SENTINEL::512] = 0
        budget = min(round_cap, MAX_MERGED - (next_id - BASE))
        # A merge saves (count - overhead) bytes; require a real win.
        # Only pairs clearing the count-16 floor can be picked, and on
        # small blocks they are FAR fewer than the 512² table — sorting
        # just those beats an argpartition over the whole table
        nz = np.flatnonzero(counts >= 16)
        if len(nz) == 0:
            luts.append(np.full(512 * 512, 0xFFFF, dtype=np.uint16))
            carry = round_cap
            continue
        order = nz[np.argsort(counts[nz])[::-1]]
        top = order[:budget * 2]
        # vectorized candidate filter: expansion lengths via a length
        # table instead of a per-key python/dict loop (the loop was the
        # dominant fixed cost of small-block encodes)
        xs, ys = top // 512, top % 512
        pair_len = exp_len[xs] + exp_len[ys]
        keep = top[pair_len <= 8][:budget]
        lut = np.full(512 * 512, 0xFFFF, dtype=np.uint16)
        made = len(keep)
        if made:
            lut[keep] = np.arange(next_id, next_id + made, dtype=np.uint16)
            for key in keep:
                x, y = int(key) // 512, int(key) % 512
                ex = exp_of.get(x, bytes([x]) if x < BASE else b"")
                ey = exp_of.get(y, bytes([y]) if y < BASE else b"")
                exp_of[next_id] = ex + ey
                expansions.append(ex + ey)
                exp_len[next_id] = len(ex) + len(ey)
                next_id += 1
        luts.append(lut)
        carry = round_cap - made
        if made == 0:
            continue
        # reuse the pair keys already materialized for counting
        stream = _apply_merges(stream, lut, new_ids=lut[keys])
    return luts, expansions, stream


def encode(arr: pa.Array) -> bytes:
    """FSST-encode an Arrow string array (non-null) -> block bytes."""
    stream, n_rows = _strings_to_symbols(arr)
    whole_block = len(stream) <= SAMPLE_BYTES
    # copy: _build_table / _apply_merges mutate their input in place and the
    # sample would otherwise alias the head of the full stream
    sample = stream[:SAMPLE_BYTES].copy()
    luts, expansions, merged = _build_table(sample)
    if whole_block:
        # the sample was the whole stream: _build_table's merged output IS
        # the encoded stream — skip re-applying every round (halves the
        # merge work for standard-size pages)
        stream = merged
    else:
        for lut in luts:
            stream = _apply_merges(stream, lut)

    # --- assign output codes: all merged ids, then most frequent base bytes
    n_merged = len(expansions)
    freq = np.bincount(stream[stream != SENTINEL], minlength=512)
    base_order = np.argsort(freq[:BASE])[::-1]
    n_base_codes = min(N_CODES - n_merged, BASE)
    code_to_id = np.empty(n_merged + n_base_codes, dtype=np.uint16)
    code_to_id[:n_merged] = np.arange(BASE, BASE + n_merged)
    code_to_id[n_merged:] = base_order[:n_base_codes]
    id_to_code = np.full(512, ESCAPE, dtype=np.uint16)
    id_to_code[code_to_id] = np.arange(len(code_to_id))

    # --- serialize symbol stream -> code stream + side literals
    is_sent = stream == SENTINEL
    syms = stream[~is_sent]
    codes = id_to_code[syms].astype(np.uint8)
    escaped = id_to_code[syms] == ESCAPE
    side = syms[escaped].astype(np.uint8)  # escaped ids are always < 256

    # --- per-row code offsets: row of each symbol via sentinel cumsum
    row_of = np.cumsum(is_sent) - is_sent  # row index per stream position
    sym_rows = row_of[~is_sent]
    per_row = np.bincount(sym_rows, minlength=n_rows)
    row_offsets = np.zeros(n_rows + 1, dtype="<i4")
    np.cumsum(per_row, out=row_offsets[1:])

    out = bytearray()
    out.append(n_merged)
    for exp in expansions:
        out.append(len(exp))
        out.extend(exp)
    out.append(len(code_to_id) & 0xFF)
    out.extend(code_to_id.astype("<u2").tobytes())
    out.extend(np.uint32(n_rows).tobytes())
    out.extend(row_offsets.tobytes())
    out.extend(np.uint32(len(codes)).tobytes())
    out.extend(codes.tobytes())
    out.extend(np.uint32(len(side)).tobytes())
    out.extend(side.tobytes())
    return bytes(out)


def decode(raw: bytes) -> pa.Array:
    """Inverse of :func:`encode` -> Arrow string array."""
    buf = memoryview(raw)
    pos = 0
    n_merged = buf[pos]
    pos += 1
    exp_bytes = np.zeros((n_merged + BASE, 8), dtype=np.uint8)
    exp_len = np.ones(n_merged + BASE, dtype=np.int64)
    # ids 0..255 expand to themselves
    exp_bytes[:BASE, 0] = np.arange(BASE)
    for j in range(n_merged):
        ln = buf[pos]
        pos += 1
        exp_bytes[BASE + j, :ln] = np.frombuffer(buf[pos : pos + ln], dtype=np.uint8)
        exp_len[BASE + j] = ln
        pos += ln
    n_codes = buf[pos] or 256  # 0 means 256 — but N_CODES<=255 so always literal
    pos += 1
    code_to_id = np.frombuffer(buf[pos : pos + 2 * n_codes], dtype="<u2").astype(np.int64)
    pos += 2 * n_codes
    n_rows = int(np.frombuffer(buf[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    row_offsets = np.frombuffer(buf[pos : pos + 4 * (n_rows + 1)], dtype="<i4")
    pos += 4 * (n_rows + 1)
    code_len = int(np.frombuffer(buf[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    codes = np.frombuffer(buf[pos : pos + code_len], dtype=np.uint8)
    pos += code_len
    side_len = int(np.frombuffer(buf[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    side = np.frombuffer(buf[pos : pos + side_len], dtype=np.uint8)

    # --- resolve each code position to a symbol id
    esc = codes == ESCAPE
    ids = np.empty(len(codes), dtype=np.int64)
    if len(codes):
        ids[~esc] = code_to_id[codes[~esc]]
        ids[esc] = side.astype(np.int64)  # literal byte ids
    out_len = exp_len[ids] if len(codes) else np.zeros(0, dtype=np.int64)

    # --- output byte offsets per code position, then scatter expansions
    out_off = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(out_len, out=out_off[1:])
    total = int(out_off[-1])
    data = np.empty(total, dtype=np.uint8)
    for j in range(8):
        m = out_len > j
        if not m.any():
            break
        data[out_off[:-1][m] + j] = exp_bytes[ids[m], j]

    # --- row byte offsets: cumsum of out_len sliced at row code offsets
    row_byte_offsets = out_off[row_offsets.astype(np.int64)].astype("<i4")
    return pa.Array.from_buffers(
        pa.string(),
        n_rows,
        [None, pa.py_buffer(row_byte_offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
