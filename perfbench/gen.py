"""Seeded input generator and exact oracles for the benchmark.

Every input a workload feeds the library is made here, from one
``numpy.random.Generator`` seeded by ``--seed``, and written to parquet
once during set-up. The library only ever sees those files.

The transcript rows follow the repository's input shape
``(conv_id, turn_idx, role, text, tool)`` plus two derived columns:
``tag`` (the role, or ``tool:<name>`` on tool turns: the Count-Min key)
and ``key`` (``conv_id:text``: the membership key).

- Conversation lengths are Zipf(2) draws clipped to ``MAX_CONV_TURNS``,
  so a few hot ``conv_id`` s own thousands of turns.
- A ``DUP_SHARE`` of the turns after the first in each conversation
  repeat an earlier turn's text, so their ``key`` is a duplicate (about
  20% of all rows).
- Every other turn's text ends in a token unique to its global row id,
  so keys from disjoint id ranges never collide. Held-out non-members
  and update deltas use id ranges disjoint from the corpus.

Strings are built from flat byte buffers with NumPy and Arrow compute;
there is no per-row Python.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DUP_SHARE = 0.24
ZIPF_A = 2.0
MAX_CONV_TURNS = 5000
VOCAB_SIZE = 2048
MIN_WORDS, MAX_WORDS = 2, 12
TOOLS = ("search", "python", "browser", "shell", "sql", "fetch", "calc", "mail")
ROLES = ("user", "assistant", "tool")
# corpus, probe and delta files are split into this many parquet parts
# (one row group each) so a scan has at least two tasks per core
FILE_PARTS = 8

# disjoint global row-id ranges: a key's unique token comes from its id
CORPUS_ID_BASE = 0
NONMEMBER_ID_BASE = 1 << 40
DELTA_ID_BASE = 1 << 41


def strings_from_matrix(chars: np.ndarray, lens: np.ndarray) -> pa.StringArray:
    """Strings from a ``(n, w)`` uint8 matrix, row ``i`` cut to ``lens[i]``."""
    n, w = chars.shape
    keep = np.arange(w)[None, :] < lens[:, None]
    data = np.ascontiguousarray(chars[keep])
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data)
    )


def decimal_strings(values: np.ndarray, width: int) -> pa.StringArray:
    """Zero-padded fixed-width decimal strings of non-negative ints."""
    v = values.astype(np.int64)
    pow10 = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    digits = ((v[:, None] // pow10[None, :]) % 10 + ord("0")).astype(np.uint8)
    return strings_from_matrix(digits, np.full(v.shape[0], width))


def make_vocab(rng: np.random.Generator) -> pa.StringArray:
    lens = rng.integers(2, 10, size=VOCAB_SIZE)
    chars = rng.integers(ord("a"), ord("z") + 1, size=(VOCAB_SIZE, 9))
    return strings_from_matrix(chars.astype(np.uint8), lens)


def conversation_lengths(rng: np.random.Generator, n_rows: int) -> np.ndarray:
    """Zipf conversation lengths summing to exactly ``n_rows``."""
    out, total = [], 0
    while total < n_rows:
        draw = np.minimum(rng.zipf(ZIPF_A, size=max(1024, n_rows // 4)),
                          MAX_CONV_TURNS)
        out.append(draw)
        total += int(draw.sum())
    lens = np.concatenate(out)
    csum = np.cumsum(lens)
    last = int(np.searchsorted(csum, n_rows))
    lens = lens[: last + 1].copy()
    lens[-1] -= int(csum[last]) - n_rows
    return lens[lens > 0]


def texts(rng: np.random.Generator, vocab: pa.StringArray,
          row_ids: np.ndarray) -> pa.StringArray:
    """Word salad from ``vocab`` plus a ``#<row id>`` token unique per id."""
    n = row_ids.shape[0]
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_words, out=offsets[1:])
    # Zipf-ish word popularity: squaring a uniform skews toward low ids
    words = (rng.random(int(offsets[-1])) ** 2 * VOCAB_SIZE).astype(np.int64)
    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), vocab.take(words)), " "
    )
    return pc.binary_join_element_wise(
        joined, decimal_strings(row_ids, 14), " #"
    )


def transcripts(rng: np.random.Generator, vocab: pa.StringArray, n_rows: int,
                id_base: int, dup_share: float = DUP_SHARE) -> pa.Table:
    """``n_rows`` transcript turns with Zipf conversation lengths.

    Conversation ids and text tokens come from ``id_base + row`` so
    tables made with disjoint id ranges share no key."""
    lens = conversation_lengths(rng, n_rows)
    conv = np.repeat(np.arange(lens.shape[0], dtype=np.int64), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn = (np.arange(n_rows, dtype=np.int64) - starts).astype(np.int32)

    # a duplicate turn copies the text of the nearest earlier original in
    # its conversation; turn 0 is always an original, so the copy never
    # crosses a conversation boundary
    dup = (rng.random(n_rows) < dup_share) & (turn > 0)
    src = np.where(dup, 0, np.arange(n_rows))
    np.maximum.accumulate(src, out=src)
    text = texts(rng, vocab, id_base + np.arange(n_rows)).take(pa.array(src))

    role_code = turn % 3
    tool_code = np.where(
        role_code == 2,
        np.minimum((rng.random(n_rows) ** 2 * len(TOOLS)).astype(np.int64),
                   len(TOOLS) - 1),
        -1,
    )
    tool_names = pa.array(TOOLS)
    tool = tool_names.take(pa.array(np.where(tool_code < 0, 0, tool_code)))
    tool = pc.if_else(pa.array(tool_code < 0), pa.nulls(n_rows, pa.string()), tool)
    role = pa.array(ROLES).take(pa.array(role_code))
    tag = pc.if_else(
        pa.array(tool_code < 0), role, pc.binary_join_element_wise("tool", tool, ":")
    )
    conv_id = pc.binary_join_element_wise(
        "c", decimal_strings(id_base + conv, 14), ""
    )
    key = pc.binary_join_element_wise(conv_id, text, ":")
    return pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": pa.array(turn),
            "role": role,
            "text": text,
            "tool": tool,
            "tag": tag,
            "key": key,
        }
    )


def write_parts(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``FILE_PARTS`` parquet files of one row group
    each. Same table, same bytes: no timestamps or run-dependent metadata."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILE_PARTS)
    for i in range(FILE_PARTS):
        chunk = table.slice(i * step, step)
        pq.write_table(
            chunk,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, chunk.num_rows),
            compression="snappy",
        )


# -- oracles -----------------------------------------------------------------

@dataclass
class Oracle:
    """Exact answers computed from the generated arrays."""

    rows: int
    unique_keys: int
    distinct_conv: int
    tag_counts: dict[str, int]
    distinct_conv_by_role: dict[str, int]
    text_lens: np.ndarray  # sorted

    def rank_range(self, x: float) -> tuple[float, float]:
        """Normalized rank interval of value ``x`` (ties give a range)."""
        n = self.text_lens.shape[0]
        lo = np.searchsorted(self.text_lens, x, side="left")
        hi = np.searchsorted(self.text_lens, x, side="right")
        return lo / n, hi / n


def oracle(table: pa.Table) -> Oracle:
    keys = table.column("key")
    tags = pc.value_counts(table.column("tag")).to_pylist()
    by_role = {
        r: len(pc.unique(table.filter(pc.equal(table.column("role"), r))
                         .column("conv_id")))
        for r in ROLES
    }
    return Oracle(
        rows=table.num_rows,
        unique_keys=len(pc.unique(keys)),
        distinct_conv=len(pc.unique(table.column("conv_id"))),
        tag_counts={d["values"]: int(d["counts"]) for d in tags},
        distinct_conv_by_role=by_role,
        text_lens=np.sort(
            pc.utf8_length(table.column("text")).to_numpy(zero_copy_only=False)
        ),
    )


def _flat(a: pa.Array | pa.ChunkedArray) -> pa.Array:
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def probe_batch(rng: np.random.Generator, members: pa.Array,
                nonmembers: pa.Array) -> pa.Table:
    """Every key of ``nonmembers`` plus as many keys drawn from
    ``members``, shuffled, with the truth in column ``m``."""
    members, nonmembers = _flat(members), _flat(nonmembers)
    k = len(nonmembers)
    mem = members.take(pa.array(rng.integers(0, len(members), size=k)))
    truth = np.concatenate([np.ones(k, dtype=bool), np.zeros(k, dtype=bool)])
    return pa.table(
        {"key": pa.concat_arrays([mem, nonmembers]), "m": pa.array(truth)}
    ).take(pa.array(rng.permutation(2 * k)))
