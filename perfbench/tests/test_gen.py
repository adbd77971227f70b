import hashlib
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen


def _corpus(seed: int, n: int = 20_000, id_base: int = gen.CORPUS_ID_BASE):
    rng = np.random.default_rng(seed)
    return gen.transcripts(rng, gen.make_vocab(rng), n, id_base)


def _digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def test_same_seed_writes_byte_identical_parquet(tmp_path):
    gen.write_parts(_corpus(7), str(tmp_path / "a"))
    gen.write_parts(_corpus(7), str(tmp_path / "b"))
    gen.write_parts(_corpus(8), str(tmp_path / "c"))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert len(list((tmp_path / "a").iterdir())) == gen.FILE_PARTS


def test_parts_round_trip_the_table(tmp_path):
    table = _corpus(3, n=1000)
    gen.write_parts(table, str(tmp_path))
    back = pq.read_table(str(tmp_path))
    assert back.column("key").to_pylist() == table.column("key").to_pylist()


def test_shape_and_oracle_match_the_rows():
    table = _corpus(11)
    o = gen.oracle(table)
    rows = table.to_pylist()
    keys = [r["key"] for r in rows]
    assert o.rows == len(rows) == 20_000
    assert o.unique_keys == len(set(keys))
    # duplicates come only from repeated non-first turns
    dup_share = 1 - o.unique_keys / o.rows
    assert 0.1 < dup_share < 0.3
    assert o.distinct_conv == len({r["conv_id"] for r in rows})
    for role in gen.ROLES:
        assert o.distinct_conv_by_role[role] == len(
            {r["conv_id"] for r in rows if r["role"] == role})
    tags = {}
    for r in rows:
        tags[r["tag"]] = tags.get(r["tag"], 0) + 1
        assert r["key"] == f"{r['conv_id']}:{r['text']}"
        assert (r["tool"] is None) == (r["role"] != "tool")
    assert o.tag_counts == tags
    assert list(o.text_lens) == sorted(len(r["text"]) for r in rows)


def test_conversation_lengths_are_skewed_and_exact():
    lens = gen.conversation_lengths(np.random.default_rng(5), 100_000)
    assert lens.sum() == 100_000
    assert lens.min() >= 1 and lens.max() <= gen.MAX_CONV_TURNS
    # Zipf: most conversations are short, a few are very long
    assert np.median(lens) <= 2 and lens.max() >= 500


def test_disjoint_id_ranges_share_no_key():
    a = _corpus(1, n=5000).column("key")
    b = _corpus(1, n=5000, id_base=gen.NONMEMBER_ID_BASE).column("key")
    assert not set(a.to_pylist()) & set(b.to_pylist())


def test_probe_batch_labels_members_and_nonmembers():
    rng = np.random.default_rng(2)
    members = _corpus(1, n=5000).column("key")
    non = _corpus(1, n=3000, id_base=gen.NONMEMBER_ID_BASE).column("key")
    batch = gen.probe_batch(rng, members, non)
    assert batch.num_rows == 6000
    member_set = set(members.to_pylist())
    for key, m in zip(batch.column("key").to_pylist(),
                      batch.column("m").to_pylist()):
        assert (key in member_set) == m
    assert pc.sum(batch.column("m")).as_py() == 3000
