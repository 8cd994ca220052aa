"""Multimodal plumbing: binary payload schema, metadata struct and the
Arrow-batched feature extractor."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.multimodal import attach_binary, extract_payload_features

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_attach_binary_schema(spark):
    d = attach_binary(load_table(spark, SF_DIR, "documents"))
    dtypes = dict(d.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["meta"].startswith("struct<mime:string,n_bytes:int")
    row = d.select("text", "payload", "meta").first()
    assert bytes(row.payload).decode("utf-8") == row.text
    assert row.meta.n_bytes == len(row.text.encode("utf-8"))


def test_feature_extractor_matches_python(spark):
    d = attach_binary(load_table(spark, SF_DIR, "documents"))
    feats = {r.doc_id: r for r in extract_payload_features(d).collect()}
    for row in d.select("doc_id", "text").limit(20).collect():
        f = feats[row.doc_id]
        assert f.n_bytes == len(row.text.encode("utf-8"))
        assert f.n_cp == len(row.text)
        assert f.cp_sum == sum(map(ord, row.text))

