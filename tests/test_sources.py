"""load_table's schema memo: a table whose files are unchanged is read with
the schema inferred on its first load (no inference job); a rewritten
table is inferred again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from logflow.sources.tables import file_stamp, load_table


def _write(path: str, n: int, extra: bool = False) -> None:
    cols = {"id": list(range(n)), "v": [float(i) for i in range(n)]}
    if extra:
        cols["tag"] = [f"t{i}" for i in range(n)]
    pq.write_table(pa.table(cols), path)


def test_unchanged_table_loads_without_jobs(spark, tmp_path, last_job_id):
    _write(str(tmp_path / "t.parquet"), 10)
    first = load_table(spark, "t", str(tmp_path))
    before = last_job_id()
    second = load_table(spark, "t", str(tmp_path))
    assert last_job_id() == before
    assert second.schema == first.schema
    assert second.count() == 10


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 10)
    assert load_table(spark, "t", str(tmp_path)).columns == ["id", "v"]
    _write(path, 12, extra=True)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["id", "v", "tag"]
    assert sorted(r.tag for r in df.collect()) == sorted(f"t{i}" for i in range(12))


def test_directory_of_parts(spark, tmp_path, last_job_id):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(str(table / "part-0.parquet"), 5)
    _write(str(table / "part-1.parquet"), 7)
    # Spark's listing skips these; so must the stamp.
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0.parquet.crc").write_bytes(b"crc")
    stamp = file_stamp(str(table))
    assert [name for name, _, _ in stamp] == ["part-0.parquet", "part-1.parquet"]
    assert load_table(spark, "t", str(tmp_path)).count() == 12

    (table / "_SUCCESS").write_bytes(b"rewritten marker")
    (table / ".part-1.parquet.crc").write_bytes(b"crc")
    assert file_stamp(str(table)) == stamp
    before = last_job_id()
    df = load_table(spark, "t", str(tmp_path))
    assert last_job_id() == before
    assert df.count() == 12

    _write(str(table / "part-2.parquet"), 3)
    assert load_table(spark, "t", str(tmp_path)).count() == 15


def test_stamp_of_missing_path_is_empty(tmp_path):
    assert file_stamp(os.path.join(str(tmp_path), "absent.parquet")) == ()
