"""The sf1 scale corpus is regenerated unless a finished generator run
left it: ``_SUCCESS`` must be present and match the shards on disk."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

import bench
import tools.gen_scale_docs as gen


def _write_corpus(out_dir, n_shards: int, rows_per_shard: int = 3) -> None:
    docs = out_dir / "documents.parquet"
    docs.mkdir(parents=True, exist_ok=True)
    for i in range(n_shards):
        pq.write_table(
            pa.table({"doc_id": list(range(i * rows_per_shard, (i + 1) * rows_per_shard))}),
            docs / f"part-{i:05d}.parquet",
        )
    for t in ("events.parquet", "lineitem.parquet"):
        pq.write_table(pa.table({"x": [1]}), out_dir / t)


def test_partial_sf1_dir_is_regenerated(tmp_path, monkeypatch):
    calls = []

    def fake_gen(out_dir: str) -> None:
        calls.append(out_dir)
        _write_corpus(tmp_path, n_shards=4)
        (tmp_path / gen.SUCCESS).write_text(str(4 * 3))

    monkeypatch.setattr(gen, "main", fake_gen)

    # an interrupted run: every table path exists, but only 2 of 4
    # shards landed and no sentinel was written
    _write_corpus(tmp_path, n_shards=2)
    bench._ensure_sf1(str(tmp_path))
    assert calls == [str(tmp_path)]

    # a finished corpus is reused as is
    bench._ensure_sf1(str(tmp_path))
    assert len(calls) == 1

    # a shard lost after the sentinel was written no longer matches
    (tmp_path / "documents.parquet" / "part-00003.parquet").unlink()
    bench._ensure_sf1(str(tmp_path))
    assert len(calls) == 2
