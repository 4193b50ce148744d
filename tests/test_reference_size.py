"""North-star size gate: our selector-chosen block is never larger than the
reference's best (PLAIN vs PLAIN_DICTIONARY/RLE) output for the same data."""
import glob
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_python_spark.operators import encoder as enc
from parquet_python_spark.operators import reference_size as ref
from parquet_python_spark.operators import selector
from parquet_python_spark.sources import codegen as cg

TABLES = sorted(glob.glob("/root/testdata/sf0.01/*.parquet"))


def _ours(arr):
    c = selector.choose(arr)
    return len(enc.encode_block(arr, c.codec)), c.codec_name


@pytest.mark.parametrize("path", TABLES, ids=lambda p: p.split("/")[-1])
def test_leq_reference_on_testdata(path):
    t = pq.read_table(path)
    for col in t.column_names:
        arr = t[col].combine_chunks()
        if pa.types.is_list(arr.type):
            continue
        ours, codec = _ours(arr)
        best = ref.reference_best_size(arr)
        assert ours <= best * 1.02 + 64, (
            f"{path}:{col} ours={ours} ({codec}) > reference={best}")


def test_leq_reference_on_code_table():
    tbl = cg.generate_arrow(0, 5000)
    total_ours = total_ref = 0
    for col in tbl.column_names:
        arr = tbl[col].combine_chunks()
        ours, _ = _ours(arr)
        total_ours += ours
        total_ref += ref.reference_best_size(arr)
    assert total_ours < 0.5 * total_ref, (total_ours, total_ref)


def test_model_sanity():
    arr = pa.array(["aa", "bb", "aa", None], type=pa.string())
    plain = ref.reference_plain_size(arr)
    # 3 values * (4 + 2) bytes + def levels + header
    assert 18 < plain < 80
    d = ref.reference_dict_size(arr)
    assert d > 0


def test_fsst_round_budget_ratios():
    """Pin the per-round-budget win (r5): prose text must stay well under
    the single-budget era's 0.31, and the code table's content column
    (linedict with an FSST-able line dictionary) under 0.15 of PLAIN.
    Regressing these bounds means the table stopped building long symbols."""
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet",
                      columns=["text"])
    arr = t["text"].combine_chunks()
    ours, codec = _ours(arr)
    assert codec == "fsst"
    assert ours / arr.nbytes < 0.28, (ours, arr.nbytes)

    tbl = cg.generate_arrow(0, 3000)
    content = tbl["content"].combine_chunks()
    ours_c, codec_c = _ours(content)
    plain_c = len(enc.encode_block(content, enc.PLAIN))
    assert codec_c == "linedict"
    assert ours_c / plain_c < 0.15, (ours_c, plain_c)


def test_reference_size_imports_pyarrow_compute_itself(tmp_path):
    """``reference_size`` calls ``pa.compute``; the attribute exists only
    once ``pyarrow.compute`` is imported.  A Spark Python worker imports
    the module alone and gets its arrays from an Arrow IPC stream, which
    does not import ``pyarrow.compute`` — so the module must."""
    arr = pa.array(["ab", "c", None, "ab", "é✓"])
    sink = pa.BufferOutputStream()
    tbl = pa.table({"c": arr})
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    (tmp_path / "c.arrows").write_bytes(sink.getvalue().to_pybytes())
    code = (
        "import sys, pyarrow as pa\n"
        "from parquet_python_spark.operators import reference_size as rs\n"
        "t = pa.ipc.open_stream(open(sys.argv[1], 'rb').read()).read_all()\n"
        "print(rs.reference_best_size(t['c'].combine_chunks()))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "c.arrows")],
        cwd=root, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert int(out.stdout) == ref.reference_best_size(arr)
