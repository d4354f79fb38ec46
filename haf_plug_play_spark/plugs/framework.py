"""Plug framework — the engine's extension mechanism.

Reference parity: a reference "plug" is a directory of defs.json +
tables.sql + functions.sql whose handlers are dispatched per row
(/root/reference/haf_plug_play/database/haf.py:73-84,
 database/sql/sync.sql:102-103, docs/plug-definitions.md:1-29).

Here a plug is a declarative transform: parsed custom_json envelope rows in,
a dict of named derived DataFrames out. No per-row dispatch — each op kind is
a filtered branch, so Catalyst plans one scan with N branch projections and
the whole thing distributes trivially.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# Plug naming rule, as the reference enforces on plug directories
# (database/haf.py:21-22).
PLUG_NAME_RE = re.compile(r"^[a-z]+[_]*[a-z_]*$")

Transform = Callable[[DataFrame], dict[str, DataFrame]]


GoldBuilder = Callable[[dict[str, DataFrame]], DataFrame]


@dataclass(frozen=True)
class Plug:
    """≙ reference defs.json (plugs/*/defs.json): name, enabled, start_block,
    op filter, and the transform standing in for the handler-function map.

    ``transform`` is the batch-mode surface (full-log in, all tables out).
    For incremental execution the runner uses ``silver`` (append-only fact
    tables per micro-batch) plus ``gold`` (views over the *cumulative* silver
    tables) — plugs whose batch outputs are already pure appends leave the
    defaults (silver = transform, gold = {}).
    """

    name: str
    cj_ids: tuple[str, ...]
    start_block: int
    transform: Transform
    enabled: bool = True
    tables: tuple[str, ...] = field(default=())
    silver: Transform | None = None
    gold: dict[str, GoldBuilder] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not PLUG_NAME_RE.match(self.name):
            raise ValueError(f"invalid plug name: {self.name!r}")

    def silver_transform(self, parsed: DataFrame) -> dict[str, DataFrame]:
        return (self.silver or self.transform)(parsed)


def _registry() -> dict[str, Plug]:
    from haf_plug_play_spark.plugs import hive_engine, podping, polls

    return {p.name: p for p in (podping.PLUG, polls.PLUG, hive_engine.PLUG)}


PLUGS: dict[str, Plug] = _registry()
