"""Seeded corpus generators for the KG-build benchmark.

Each generator returns a turns frame in the engine's input shape
(conv_id, turn_idx, role, text, tool, ts) built only from numpy's seeded
RandomState, so one (workload, seed, size) always yields the same bytes.
``stage`` writes a corpus as parquet under the benchmark's cache
directory; the engine only ever sees that parquet.

Corpora (sizes are set in ``run.WORKLOADS``):

- ``long``: long agent/tool turns (80-400 words), short user turns
  (5-30 words), ~30% of turns carry 1-2 lexicon aliases, no hot
  conversation. CRF-bound.
- ``dense``: short turns of 6-16 filler words plus 3-8 aliases, 30% of
  aliases perturbed (a character dropped, two swapped, or upper-cased) so
  fuzzy linking does real work; Zipf conversation lengths plus one hot
  conversation. Linking-, triple- and skew-bound.
- ``fixture``: the shape of ``fixtures.make_turns`` (5-25 words, 55% of
  turns with 1-3 aliases, one hot conversation), for the stream.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator's output changes: staged corpora and cached
# reference triples are keyed on it
GEN_VERSION = "2"

_FILLERS = np.array(
    (
        "the quick analysis shows that expression levels were observed in "
        "sample cells during treatment and the results indicate a strong "
        "response to the protein pathway while binding activity remains "
        "stable across conditions we report measured values for each group "
        "under control settings with significant changes noted in tissue "
        "samples after incubation this study examines regulation patterns "
        "found within human subjects over time"
    ).split()
)
_ROLES = np.array(["user", "assistant", "tool", "assistant"])
_ANY_ROLE = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["", "search", "python", "browser"])
_BASE_TS = np.datetime64(datetime(2025, 1, 1), "us")


def _perturb(alias: str, rng: np.random.RandomState) -> str:
    """Drop a character, swap two adjacent ones, or upper-case."""
    kind = rng.randint(0, 3)
    if kind == 0 and len(alias) > 3:
        i = rng.randint(0, len(alias))
        return alias[:i] + alias[i + 1:]
    if kind == 1 and len(alias) > 2:
        i = rng.randint(0, len(alias) - 1)
        return alias[:i] + alias[i + 1] + alias[i] + alias[i + 2:]
    return alias.upper()


def _text(
    rng: np.random.RandomState,
    n_words: int,
    n_aliases: int,
    aliases: np.ndarray,
    p_perturb: float = 0.0,
) -> str:
    words = list(_FILLERS[rng.randint(0, len(_FILLERS), size=n_words)])
    for _ in range(n_aliases):
        a = str(aliases[rng.randint(0, len(aliases))])
        if p_perturb and rng.rand() < p_perturb:
            a = _perturb(a, rng)
        words.insert(rng.randint(0, len(words) + 1), a)
    return " ".join(words)


def _frame(rows: list, n_turns: int) -> pd.DataFrame:
    df = pd.DataFrame(
        rows[:n_turns], columns=["conv_id", "turn_idx", "role", "text", "tool", "ci"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # conversations start 7 minutes apart, turns 13 s apart: neighbouring
    # conversations interleave in time, as in fixtures.make_turns
    df["ts"] = (
        _BASE_TS
        + (df["ci"].to_numpy() * 420 + df["turn_idx"].to_numpy() * 13).astype(
            "timedelta64[s]"
        )
    )
    return df.drop(columns="ci")


def _tool(rng: np.random.RandomState, role: str) -> str:
    return str(_TOOLS[rng.randint(0, 4)]) if role in ("assistant", "tool") else ""


def long_turns(seed: int, n_turns: int, aliases: np.ndarray) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows: list = []
    ci = 0
    while len(rows) < n_turns:
        for ti in range(rng.randint(8, 25)):
            role = str(_ROLES[ti % 4])
            n_words = rng.randint(5, 31) if role == "user" else rng.randint(80, 401)
            n_al = rng.randint(1, 3) if rng.rand() < 0.3 else 0
            text = _text(rng, n_words, n_al, aliases)
            rows.append((f"conv_{ci:06d}", ti, role, text, _tool(rng, role), ci))
        ci += 1
    return _frame(rows, n_turns)


def dense_turns(
    seed: int, n_turns: int, hot_turns: int, aliases: np.ndarray
) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    lengths = [hot_turns]
    total = hot_turns
    while total < n_turns:
        n = int(min(rng.zipf(1.8), 400))
        lengths.append(n)
        total += n
    rows: list = []
    for ci, n in enumerate(lengths):
        for ti in range(n):
            role = str(_ANY_ROLE[rng.randint(0, 4)])
            text = _text(
                rng, rng.randint(6, 17), rng.randint(3, 9), aliases, p_perturb=0.3
            )
            rows.append((f"conv_{ci:06d}", ti, role, text, _tool(rng, role), ci))
    return _frame(rows, n_turns)


def fixture_turns(
    seed: int, n_turns: int, hot_turns: int, aliases: np.ndarray
) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows: list = []
    ci = 0
    while len(rows) < n_turns:
        n = hot_turns if ci == 0 else rng.randint(3, 41)
        for ti in range(n):
            role = str(_ANY_ROLE[ti % 4] if ci % 3 == 0 else _ANY_ROLE[rng.randint(0, 4)])
            n_al = rng.randint(1, 4) if rng.rand() < 0.55 else 0
            text = _text(rng, rng.randint(5, 26), n_al, aliases)
            rows.append((f"conv_{ci:05d}", ti, role, text, _tool(rng, role), ci))
        ci += 1
    return _frame(rows, n_turns)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def stage(turns: pd.DataFrame, d: str, n_parts: int, warm_share: float) -> None:
    """Stage ``turns`` under ``d``: ``main/`` in ts order split into
    ``n_parts`` files whose mtimes strictly increase in name order (the
    file-source invariant the stream layer relies on: parts are consumed
    one per micro-batch in mtime order, and every conversation's turns
    arrive in turn order), and ``warm/``, whole conversations holding
    about ``warm_share`` of the turns in two parts, for the warm-up
    build. Idempotent via a ``_DONE`` marker; a partial stage is wiped
    and redone."""
    if os.path.exists(os.path.join(d, "_DONE")):
        return
    shutil.rmtree(d, ignore_errors=True)
    main, warm = os.path.join(d, "main"), os.path.join(d, "warm")
    os.makedirs(main)
    os.makedirs(warm)
    ordered = turns.sort_values(["ts", "conv_id", "turn_idx"]).reset_index(drop=True)
    step = -(-len(ordered) // n_parts)
    base = 1_600_000_000
    for i in range(n_parts):
        p = os.path.join(main, f"part-{i:03d}.parquet")
        _write(ordered.iloc[i * step:(i + 1) * step], p)
        os.utime(p, (base + i, base + i))
    # skip conversation 0, the hot one in the corpora that have one
    sizes = turns.groupby("conv_id").size().sort_index().iloc[1:]
    keep = sizes.index[sizes.cumsum() <= warm_share * len(turns)]
    warm_df = ordered[ordered["conv_id"].isin(keep)]
    half = len(warm_df) // 2
    for i, part in enumerate((warm_df.iloc[:half], warm_df.iloc[half:])):
        p = os.path.join(warm, f"part-{i:03d}.parquet")
        _write(part, p)
        os.utime(p, (base + i, base + i))
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write(GEN_VERSION)
