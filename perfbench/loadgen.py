"""Seeded load generation, kept apart from the program under test.

The benchmark owns its generator, so a change to the engine package
(including its own test-data generator) cannot change what is measured.
Everything here is plain Python/NumPy/pyarrow and runs before any timer
starts; the program receives only the files.

The change log has the shape of a conversation-transcript CDC stream:
one winning insert/update/upsert per final row, superseded earlier
versions (~1/3 of keys), duplicate deliveries (~1/5), delete-then-reinsert
histories (~1/10), ghost keys inserted then deleted, a hot conversation
holding ~30 % of all turns, raw text that exercises the normalizer
(entities, tabs, CRLF, emoji, guillemets), and a ``tool`` column that
first appears at ``tool_from_batch`` (earlier batch files lack the column).
Batches are contiguous ``lsn`` ranges; ``(event_ts, lsn)`` orders versions.

``StateModel`` is the independent oracle: a plain-dict latest-wins replay
of the log with the reference CPython normalizer. Its state after the
whole log is ``expected_final``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from runyoro_llm_data_pipeline_spark.operators.text import (
    clean_and_preprocess_text_py,
)

HOT_CONV = "conv_hot"
PUBLIC_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
EVENT_COLS = ("op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
              "event_ts", "lsn", "batch_id")
BASE_EPOCH = 1_700_000_000
GHOST_TURN = 2_000_000_000
HOT_SHARE = 0.30

_WORDS = (
    "omuntu ekitabu amaizi engoma obusinge okusoma ekyalo webale kandi omu "
    "batch merge lake table stream query offset snapshot bucket lineage "
    "window shuffle arrow vector checkpoint skew value join"
).split()
_NOISE = (
    lambda t: t + " Q&amp;A 🙂",
    lambda t: "\t«" + t + "»\r\nend",
    lambda t: "  " + t + " — fin… ",
    lambda t: t + " &lt;tag&gt; ’tis",
)

_US = "datetime64[us]"
_SCHEMA = pa.schema([
    ("op", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("event_ts", pa.timestamp("us", tz="UTC")),
    ("lsn", pa.int64()),
    ("batch_id", pa.int64()),
])
_PUBLIC_SCHEMA = pa.schema([f for f in _SCHEMA if f.name in PUBLIC_COLS])


@dataclass(frozen=True)
class LogSpec:
    seed: int
    n_turns: int
    n_convs: int
    n_batches: int
    tool_from_batch: int
    files_per_batch: int


@dataclass
class GeneratedLog:
    spec: LogSpec
    batch_dir: str
    expected_path: str
    events: pd.DataFrame  # the whole log, for the StateModel
    events_per_batch: dict[int, int]

    @property
    def batch_ids(self) -> list[int]:
        return sorted(self.events_per_batch)


def change_log(spec: LogSpec) -> pd.DataFrame:
    """The seeded change log as one frame (``EVENT_COLS``)."""
    rng = np.random.default_rng(spec.seed)
    n = spec.n_turns
    conv_no = rng.integers(0, spec.n_convs, n).astype(str)
    conv = np.where(rng.random(n) < HOT_SHARE, HOT_CONV, np.char.add("conv_", conv_no))
    turn = pd.Series(conv).groupby(conv).cumcount().to_numpy()
    kind = rng.integers(0, 11, n)
    role = np.where(kind == 0, "tool", np.where(
        kind == 1, "system", np.where(turn % 2 == 0, "user", "assistant")))
    tool = np.where(kind == 0, np.char.add("tool_", rng.integers(0, 5, n).astype(str)), None)
    n_words = rng.integers(6, 16, n)
    words = rng.integers(0, len(_WORDS), (n, 15))
    noise = rng.integers(0, 7, n)
    text = []
    for i in range(n):
        t = " ".join(_WORDS[w] for w in words[i, : n_words[i]])
        text.append(_NOISE[noise[i]](t) if noise[i] < len(_NOISE) else t)
    final = pd.DataFrame({
        "op": rng.choice(["insert", "update", "upsert"], n),
        "conv_id": conv,
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": BASE_EPOCH + np.arange(n) * 60 + rng.integers(0, 60, n),
        "lsn": np.arange(n) * 10 + 9,
    })
    stale = final[rng.random(n) < 1 / 3].assign(
        op="insert", lsn=lambda d: d.lsn - 6, text=lambda d: "STALE " + d.text,
        tool=None)
    dups = final[rng.random(n) < 1 / 5]
    deletes = final[rng.random(n) < 1 / 10].assign(
        op="delete", lsn=lambda d: d.lsn - 3, role=None, text=None, tool=None, ts=None)
    g = max(n // 20, 1)
    ghosts = pd.DataFrame({
        "op": "insert",
        "conv_id": np.char.add("conv_", rng.integers(0, spec.n_convs, g).astype(str)),
        "turn_idx": (GHOST_TURN + np.arange(g)).astype(np.int32),
        "role": "user",
        "text": [f"ghost turn {k}" for k in range(g)],
        "tool": None,
        "ts": BASE_EPOCH + np.arange(g) * 60,
        "lsn": n * 10 + 100 + np.arange(g) * 10,
    })
    ghost_deletes = ghosts.assign(op="delete", lsn=lambda d: d.lsn + 5,
                                  role=None, text=None, ts=None)

    ev = pd.concat([final, stale, dups, deletes, ghosts, ghost_deletes],
                   ignore_index=True)
    max_lsn = n * 10 + 100 + g * 10 + 10
    ev["batch_id"] = np.minimum(ev.lsn * spec.n_batches // max_lsn, spec.n_batches - 1)
    ev.loc[ev.batch_id < spec.tool_from_batch, "tool"] = None
    ev["event_ts"] = BASE_EPOCH + ev.lsn
    for c in ("ts", "event_ts"):
        ev[c] = pd.to_datetime(ev[c], unit="s").astype(_US)
    # arrival order inside a batch carries no meaning: shuffle it
    ev = ev.iloc[rng.permutation(len(ev))].sort_values("batch_id", kind="stable")
    return ev[list(EVENT_COLS)].reset_index(drop=True)


def generate(spec: LogSpec, out_dir: str) -> GeneratedLog:
    """Write the seeded log under ``out_dir`` as ``log/batch_<id>/`` Parquet
    directories (``files_per_batch`` files each) and the expected final
    state."""
    ev = change_log(spec)
    batch_dir = os.path.join(out_dir, "log")
    for b, part in ev.groupby("batch_id"):
        table = pa.Table.from_pandas(part, schema=_SCHEMA, preserve_index=False)
        if b < spec.tool_from_batch:
            table = table.drop_columns(["tool"])
        step = -(-table.num_rows // spec.files_per_batch)
        d = os.path.join(batch_dir, f"batch_{b:05d}")
        os.makedirs(d)
        for i in range(spec.files_per_batch):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(d, f"part-{i:05d}.parquet"))

    model = StateModel()
    model.apply(ev)
    expected = pd.DataFrame(model.all_rows(), columns=list(PUBLIC_COLS))
    expected["ts"] = pd.to_datetime(expected.ts, unit="us").astype(_US)
    expected_path = os.path.join(out_dir, "expected.parquet")
    pq.write_table(
        pa.Table.from_pandas(expected, schema=_PUBLIC_SCHEMA, preserve_index=False),
        expected_path,
    )
    counts = ev.groupby("batch_id").size()
    return GeneratedLog(
        spec=spec,
        batch_dir=batch_dir,
        expected_path=expected_path,
        events=ev,
        events_per_batch={int(b): int(c) for b, c in counts.items()},
    )


class StateModel:
    """Latest-wins replay of the log by ``(event_ts, lsn)``, indexed by
    conversation."""

    def __init__(self) -> None:
        self._convs: dict[str, dict[int, tuple]] = {}

    def apply(self, events: pd.DataFrame) -> None:
        cols = ["conv_id", "turn_idx", "event_ts", "lsn", "op",
                "role", "text", "tool", "ts"]
        for conv, turn, ets, lsn, op, role, text, tool, ts in events[
            cols
        ].itertuples(index=False, name=None):
            turns = self._convs.setdefault(conv, {})
            order = (ets, lsn)
            cur = turns.get(turn)
            if cur is None or order > cur[0]:
                turns[turn] = (order, op, role, text, tool, ts)

    def conversations(self) -> list[str]:
        return sorted(self._convs)

    def rows(self, conv_id: str) -> list[tuple]:
        """The public rows of one conversation, normalized as the engine
        stores them."""
        return [
            (conv_id, int(turn), _none(role), clean_and_preprocess_text_py(text),
             _none(tool), _ts(ts))
            for turn, (_, op, role, text, tool, ts)
            in self._convs.get(conv_id, {}).items()
            if op != "delete"
        ]

    def all_rows(self) -> list[tuple]:
        return [r for conv in self._convs for r in self.rows(conv)]


def row_tuples(df: pd.DataFrame) -> list[tuple]:
    """Engine output (public columns, via ``toPandas``) as comparable
    tuples, in frame order."""
    return [
        (conv, int(turn), _none(role), _none(text), _none(tool), _ts(ts))
        for conv, turn, role, text, tool, ts in df[list(PUBLIC_COLS)]
        .itertuples(index=False, name=None)
    ]


def _none(v):
    return None if v is None or (isinstance(v, float) and v != v) else v


def _ts(v):
    """A timestamp as integer microseconds since the epoch."""
    return None if v is None or pd.isna(v) else pd.Timestamp(v).value // 1000
