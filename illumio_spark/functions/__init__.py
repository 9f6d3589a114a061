"""Shared helpers for the function/operator modules."""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

from pyspark import SparkContext

_T = TypeVar("_T")


def once_per_gateway(build: Callable[[], _T]) -> Callable[[], _T]:
    """Memoize a zero-argument Column builder per py4j gateway.

    A Column is an unresolved JVM expression: it names its inputs but is
    bound to no DataFrame or session, so one built set serves every plan
    in that JVM, across sessions. Building the parse/format projections
    from scratch costs thousands of py4j round-trips (~1 s of every run
    and every streaming micro-batch). A new gateway (a relaunched JVM)
    rebuilds. Callers must not mutate the returned value."""
    slot: list = []

    @functools.wraps(build)
    def get() -> _T:
        gateway = SparkContext._gateway
        if not slot or slot[0] is not gateway:
            slot[:] = [gateway, build()]
        return slot[1]

    return get

