"""session.get_spark's SPARK_GRAFT_CONF_JSON overrides."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark.session import get_spark


def test_conf_json_rejects_null(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", '{"spark.sql.shuffle.partitions": null}')
    with pytest.raises(ValueError, match="non-null scalars"):
        get_spark()
