"""Seeded input tables for the benchmark workloads.

The transcripts are generated with NumPy, independently of the engine, so a
change to the engine's own synthesizer cannot change what is measured; the
R-MAT graph comes from the engine's DuckDB twin of its generator
(``elektra_spark.ingest.rmat.rmat_edges_sql``), which needs no Spark. The
same seed gives the same tables, byte for byte.

- :func:`transcripts` follows the engine's transcripts schema
  ``(conv_id, turn_idx, role, text, tool, ts)`` with the same shape: clipped
  log-normal conversation lengths in [2, 200], about one assistant turn in
  eight a tool call, tool choice Zipf-like (P(k) ∝ 2^-k) so tool actors
  become hubs.
- :func:`transcript_graph` is the reference derivation of the link graph
  (dense turn vids in conv_id order, tool hubs after them, reply and
  tool-call edges), used by the oracles.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

TOOLS = ["bash", "read", "edit", "write", "grep", "glob", "web", "sql"]
WORDS = [
    "the", "graph", "edge", "vertex", "spark", "join", "shuffle", "label",
    "rank", "merge", "batch", "query", "tree", "forest", "level", "component",
    "turn", "tool", "agent", "plan", "scan", "filter", "group", "sort",
    "hash", "min", "sum", "count", "link", "cut", "walk", "path",
]


def transcripts(n_conversations: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    z = rng.standard_normal(n_conversations)
    lengths = np.clip(np.round(np.exp(2.7 + 0.8 * z)), 2, 200).astype(np.int64)
    conv = np.repeat(np.arange(n_conversations), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    turn = np.arange(len(conv)) - starts
    odd = turn % 2 == 1
    is_tool = odd & (rng.random(len(conv)) < 0.125)
    role = np.where(is_tool, "tool", np.where(odd, "assistant", "user"))
    hv = rng.integers(1, 256, len(conv))
    tool_idx = np.minimum(len(TOOLS) - 1, np.floor(np.log2(256.0 / hv)).astype(np.int64))
    tool = np.where(is_tool, np.asarray(TOOLS, dtype=object)[tool_idx], None)
    n_tok = rng.integers(5, 45, len(conv))
    tok = rng.integers(0, len(WORDS), int(n_tok.sum()))
    words = np.asarray(WORDS, dtype=object)[tok]
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(len(conv))]
    ts = pd.to_datetime(1_700_000_000 + conv * 3600 + turn * 30, unit="s", utc=True)
    return pd.DataFrame({
        "conv_id": [f"conv{c:08d}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    })


@dataclass
class Graph:
    vertices: pd.DataFrame  # vid, kind, conv_id, turn_idx, tool
    src: np.ndarray  # canonical src < dst, sorted, distinct
    dst: np.ndarray


def transcript_graph(tx: pd.DataFrame) -> Graph:
    lengths = tx.groupby("conv_id", sort=True)["turn_idx"].max() + 1
    offset = pd.Series(np.cumsum(lengths.to_numpy()) - lengths.to_numpy(), index=lengths.index)
    n_turns = int(lengths.sum())
    vid = offset.loc[tx["conv_id"]].to_numpy() + tx["turn_idx"].to_numpy()
    conv_len = lengths.loc[tx["conv_id"]].to_numpy()
    tools = sorted(tx["tool"].dropna().unique())
    tool_vid = {t: n_turns + i for i, t in enumerate(tools)}
    reply = tx["turn_idx"].to_numpy() < conv_len - 1
    has_tool = tx["tool"].notna().to_numpy()
    src = np.concatenate([vid[reply], vid[has_tool]])
    dst = np.concatenate([vid[reply] + 1, tx["tool"][has_tool].map(tool_vid).to_numpy()])
    src, dst = canonical(src, dst)
    vertices = pd.concat([
        pd.DataFrame({"vid": vid, "kind": "turn", "conv_id": tx["conv_id"].to_numpy(),
                      "turn_idx": tx["turn_idx"].to_numpy(), "tool": tx["tool"].to_numpy()}),
        pd.DataFrame({"vid": [tool_vid[t] for t in tools], "kind": "tool", "conv_id": None,
                      "turn_idx": None, "tool": tools}),
    ], ignore_index=True)
    return Graph(vertices, src, dst)


def canonical(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Undirected canonical form: ``src < dst``, no self-loops, distinct, sorted."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    return distinct(lo[keep], hi[keep])


def distinct(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pairs = np.unique(np.stack([src, dst], axis=1).astype(np.int64), axis=0)
    return pairs[:, 0].copy(), pairs[:, 1].copy()
