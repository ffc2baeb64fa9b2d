"""tools/compare_ckpt_roots.py: per-table row-multiset comparison of two
checkpoint roots (hive partitions read, ``_`` tables skipped)."""

import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "compare_ckpt_roots.py",
)
_spec = importlib.util.spec_from_file_location("compare_ckpt_roots", _TOOL)
compare_ckpt_roots = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(compare_ckpt_roots)


def _write(root, table, rows, name="part-0.parquet"):
    os.makedirs(os.path.join(root, table), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(root, table, name))


def _root(base, docs, lineage_dst):
    root = str(base)
    _write(root, "docs", docs)
    _write(root, "lineage/op=doc_to_chunk", [{"src_id": "d", "dst_id": x}
                                            for x in lineage_dst])
    _write(root, "_metrics/docs", [{"stage": "docs", "n_rows": 1}])
    return root


def test_equal_roots_in_any_file_layout(tmp_path, capsys):
    a = _root(tmp_path / "a", [{"url": "u1"}, {"url": "u2"}], ["c1"])
    b = _root(tmp_path / "b", [{"url": "u2"}], ["c1"])
    _write(b, "docs", [{"url": "u1"}], name="part-1.parquet")
    _write(a, "done_docs", [{"url": "u1"}])  # present in A only
    assert compare_ckpt_roots.compare(a, b)
    out = capsys.readouterr().out
    assert "docs: equal (2 rows)" in out
    assert "lineage: equal (1 rows)" in out
    assert "done_docs: only in A" in out
    assert "_metrics" not in out


def test_row_multiset_and_partition_differences(tmp_path, capsys):
    a = _root(tmp_path / "a", [{"url": "u1"}, {"url": "u1"}], ["c1"])
    b = _root(tmp_path / "b", [{"url": "u1"}], ["c1"])
    _write(b, "lineage/op=chunk_to_triple", [{"src_id": "d", "dst_id": "c1"}])
    assert not compare_ckpt_roots.compare(a, b)
    out = capsys.readouterr().out
    assert "docs: DIFFERENT (2 vs 1 rows; 1 only in A, 0 only in B" in out
    assert "lineage: DIFFERENT (1 vs 2 rows" in out
