"""The registry's declaration guards (registry/declare.py): a query is
registered once, with a non-blank oracle or an explicit None, and the
order tuple in assembly.py names exactly the registered queries."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.registry.declare import (
    DuplicateQueryError,
    EmptyOracleError,
    QueryOrderError,
    Registry,
)


def _q(spark, sf_dir):
    return None


def _r(spark, sf_dir):
    return None


def test_registering_a_name_twice_raises():
    reg = Registry()
    reg.query("a", oracle="SELECT 1")(_q)
    with pytest.raises(DuplicateQueryError, match="'a' registered twice"):
        reg.query("a", oracle="SELECT 2")(_r)


@pytest.mark.parametrize("oracle", ["", "   ", "\n\t  \n"])
def test_blank_oracle_raises(oracle):
    with pytest.raises(EmptyOracleError):
        Registry().query("a", oracle=oracle)


def test_none_oracle_registers_a_query_without_an_oracle():
    reg = Registry()
    reg.query("a", oracle="SELECT 1")(_q)
    assert reg.query("b", oracle=None)(_r) is _r
    queries, oracles = reg.assemble(("b", "a"))
    assert list(queries) == ["b", "a"]
    assert oracles == {"a": "SELECT 1"}


@pytest.mark.parametrize(
    "order",
    [
        ("a",),  # leaves out registered "b"
        ("a", "b", "c"),  # names unregistered "c"
        ("a", "b", "a"),  # repeats "a"
    ],
)
def test_order_tuple_must_name_exactly_the_registered_queries(order):
    reg = Registry()
    reg.query("a", oracle="SELECT 1")(_q)
    reg.query("b", oracle="SELECT 2")(_r)
    with pytest.raises(QueryOrderError):
        reg.assemble(order)


def test_assembled_registry_follows_the_order_tuple():
    assert list(registry.QUERIES) == list(registry.QUERY_ORDER)
    assert list(registry.ORACLES) == [
        n for n in registry.QUERY_ORDER if n in registry.ORACLES
    ]
