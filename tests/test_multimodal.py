"""The binaryFile source's staged asset files follow the documents
table's content, never a dir left by an earlier source version."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_final_project_spark.queries.multimodal import stage_binary_assets


def _write_documents(sf_dir, texts) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        os.path.join(sf_dir, "documents.parquet"),
    )


def _staged(staging) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".bin"):  # the source reads *.bin only
            continue
        with open(os.path.join(staging, name), "rb") as f:
            out[name] = f.read()
    return out


def test_rewritten_documents_restage_new_bytes(spark, tmp_path):
    sf_dir = tmp_path / "tables"
    sf_dir.mkdir()
    _write_documents(sf_dir, ["alpha", "beta"])
    first = stage_binary_assets(spark, str(sf_dir))
    assert _staged(first) == {"doc_0.bin": b"alpha", "doc_1.bin": b"beta"}

    _write_documents(sf_dir, ["gamma ray", "delta", "epsilon"])
    second = stage_binary_assets(spark, str(sf_dir))
    assert _staged(second) == {
        "doc_0.bin": b"gamma ray",
        "doc_1.bin": b"delta",
        "doc_2.bin": b"epsilon",
    }
    assert not os.path.exists(first)  # the superseded copy is swept
    shutil.rmtree(os.path.dirname(second))
