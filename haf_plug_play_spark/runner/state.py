"""Plug sync state — ≙ hpp.plug_state / hpp.global_props
(/root/reference/haf_plug_play/database/sql/tables.sql:3-15).

One JSON document per plug holding the cursor and health fields the
reference keeps in PostgreSQL (latest_block_num, latest_block_time,
check_in, massive_synced) and the manifest of every table of the plug
(``chunks``). Written atomically and always AFTER the chunk's data
directories — saving it is the chunk's one commit point (sync.sql:108-111):
rows, cursor and block time become visible together, and a crash before
it leaves only unreferenced directories that no reader lists.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import asdict, dataclass, field

from haf_plug_play_spark.runner.fs import LocalFS

_TS_FMT = "%Y-%m-%dT%H:%M:%S.%f"


@dataclass
class PlugState:
    plug: str
    latest_block_num: int = -1
    latest_block_time: str | None = None
    check_in: str | None = None
    massive_synced: bool = False
    # The committed data: one {"first", "last", "level", "dir"} entry per
    # (folded) run of chunks, in block order. Every table of the plug has
    # a directory named ``dir`` holding exactly that block range's rows.
    chunks: list[dict] = field(default_factory=list)


class PlugStateStore:
    """State I/O goes through the runner.fs seam: ``LocalFS`` by default,
    ``HadoopFS(spark)`` for hdfs://-or-object-store roots (see fs.py for
    the old-or-new atomicity contract per backend)."""

    def __init__(self, root: str, fs=None) -> None:
        self.root = root
        self.fs = fs or LocalFS()
        self.fs.makedirs(root)

    def _path(self, plug: str) -> str:
        return os.path.join(self.root, f"{plug}.state.json")

    def load(self, plug: str) -> PlugState:
        path = self._path(plug)
        if not self.fs.exists(path):
            return PlugState(plug=plug)
        return PlugState(**json.loads(self.fs.read_bytes(path)))

    def save(self, state: PlugState) -> None:
        state.check_in = datetime.datetime.now(datetime.timezone.utc).strftime(_TS_FMT)
        self.fs.write_bytes_atomic(
            self._path(state.plug), json.dumps(asdict(state)).encode()
        )

    def check_in_age(self, plug: str, now: datetime.datetime | None = None) -> float | None:
        """Seconds since the plug last checked in (watchdog input, ≙
        database/sql/functions.sql:34-48); None if never."""
        state = self.load(plug)
        if state.check_in is None:
            return None
        now = now or datetime.datetime.now(datetime.timezone.utc)
        seen = datetime.datetime.strptime(state.check_in, _TS_FMT).replace(
            tzinfo=datetime.timezone.utc
        )
        return (now - seen).total_seconds()
