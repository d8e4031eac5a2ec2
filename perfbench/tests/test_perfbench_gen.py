import os

import gen


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_bulk_file_is_byte_identical_per_seed(tmp_path):
    a = gen.bulk_file(str(tmp_path / "a"), 7)
    b = gen.bulk_file(str(tmp_path / "b"), 7)
    c = gen.bulk_file(str(tmp_path / "c"), 8)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)


def test_bulk_file_shape(tmp_path):
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(gen.bulk_file(str(tmp_path), 1)).metadata
    assert meta.num_rows == gen.BULK_ROWS
    assert meta.num_columns == 11
    assert meta.num_row_groups == 1


def test_cache_hit_does_not_rewrite(tmp_path):
    path = gen.bulk_file(str(tmp_path), 3)
    before = os.stat(path).st_mtime_ns
    assert gen.bulk_file(str(tmp_path), 3) == path
    assert os.stat(path).st_mtime_ns == before
    assert f"gen-v{gen.GEN_VERSION}" in path


def test_query_dir_is_byte_identical(tmp_path):
    a = gen.query_dir(str(tmp_path / "a"))
    b = gen.query_dir(str(tmp_path / "b"))
    names = sorted(os.listdir(a))
    assert names == sorted(f"{t}.parquet" for t in gen.QUERY_ROWS)
    for n in names:
        assert _read(os.path.join(a, n)) == _read(os.path.join(b, n))


def test_query_row_counts(tmp_path):
    import pyarrow.parquet as pq
    d = gen.query_dir(str(tmp_path))
    for t, n in gen.QUERY_ROWS.items():
        assert pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows == n
