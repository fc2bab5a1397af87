"""Budget gates: the one path from an ``AFG_*`` budget to a tier choice.

Every scale tier in the engine is the same decision: compare one
cheap stat against a budget, then pick a physical path (exact vs LSH
subset, plain window vs sharded scan, literal model vs numpy, brute
force vs refusing). ``gate`` makes that decision; the site keeps its
own fallback code. A budget resolves as the explicit kwarg if given,
else the ``AFG_<NAME>`` environment variable, else the site's default.

``announce`` reports a decision on the ``afg_data_pipeline_spark``
logger at WARNING — stderr, never stdout, because bench and driver
stdout carry only result lines. With logging unconfigured, Python's
last-resort handler writes the message to stderr.
"""

from __future__ import annotations

import logging
import os
from typing import NamedTuple

from pyspark.sql import DataFrame

_LOG = logging.getLogger("afg_data_pipeline_spark")


def announce(event: str, **fields) -> None:
    """Log ``event`` followed by ``key=value`` fields."""
    detail = " ".join(f"{k}={v}" for k, v in fields.items())
    _LOG.warning("%s %s", event, detail)


def budget(name: str, default, value=None):
    """``value`` if given, else env ``AFG_<name>`` parsed as the
    default's type, else ``default``."""
    if value is not None:
        return value
    raw = os.environ.get(f"AFG_{name}")
    return default if raw is None else type(default)(raw)


class Tier(NamedTuple):
    over: bool  # stat > budget: the site takes its fallback path
    stat: int
    budget: int


def gate(
    name: str, stat, default, value=None, event: str | None = None
) -> Tier:
    """Compare ``stat`` with the ``AFG_<name>`` budget.

    ``stat`` is a number the site already has, or a 1-row global
    aggregate whose single value is collected here (the one job the
    site ran anyway; NULL reads as 0). When over budget, ``event``
    (if given) is announced with the stat and the budget. Sites
    whose tiers are bit-identical plan choices, or that raise, pass
    no event.
    """
    limit = budget(name, default, value)
    if isinstance(stat, DataFrame):
        # collect-bound: 1-row global aggregate by contract
        stat = int(stat.collect()[0][0] or 0)
    over = stat > limit
    if over and event:
        announce(event, stat=stat, **{f"AFG_{name}": limit})
    return Tier(over, stat, limit)
