"""The shared block decoder (codecs.blocks.decode_postings) and merge's
kernel on top of it (merge.decode_blocks), against the per-block
decoders (decode_doc_ids, decode_tfs, decode_positions) on blocks
written by encode_posting_blocks: random terms with positions and
offsets, salted and unsalted blocks, with and without deleted docs
(including a block whose every doc is deleted)."""

import numpy as np
import pyarrow as pa
import pytest

from ocaml_lucene_spark.codecs.blocks import (
    decode_doc_ids,
    decode_positions,
    decode_postings,
    decode_tfs,
    encode_posting_blocks,
)
from ocaml_lucene_spark.index.merge import decode_blocks

LO, SPAN, N_SALTS = 1_000, 5_000, 4


def _blocks(seed):
    """Block rows of random terms, as the postings parquet holds them;
    every third term is a salted shard (block_no >= 100_000)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(12):
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(np.arange(LO, LO + SPAN), n, replace=False))
        tf = rng.integers(1, 6, n)
        positions = np.concatenate([np.sort(rng.choice(200, t, replace=False)) for t in tf])
        offsets = positions * 7 + 1
        dl = rng.integers(5, 300, n)
        salt = 1 + i % 4 if i % 3 == 0 else 0
        for b in encode_posting_blocks(docs, tf, positions, dl, offsets=offsets):
            rows.append(
                {
                    "term": f"t{i:02d}", "block_no": salt * 100_000 + b.block_no, "n": b.n,
                    "doc_bytes": b.doc_bytes, "tf_bytes": b.tf_bytes, "dl_bytes": b.dl_bytes,
                    "pos_bytes": b.pos_bytes, "off_bytes": b.off_bytes,
                }
            )
    return rows


def _per_block(rows, deleted, with_positions, with_offsets):
    """The expected columns, decoded block by block."""
    out = {"term": [], "salt": [], "doc_id": [], "tf": [], "dl": [], "positions": [], "starts": []}
    for r in rows:
        docs = decode_doc_ids(r["doc_bytes"])
        tf = decode_tfs(r["tf_bytes"], r["n"])
        dl = decode_tfs(r["dl_bytes"], r["n"])
        pos = decode_positions(r["pos_bytes"], tf)
        off = decode_positions(r["off_bytes"], tf)
        for j, d in enumerate(docs.tolist()):
            if deleted is not None and d in set(deleted.tolist()):
                continue
            salted = r["block_no"] // 100_000 > 0
            out["term"].append(r["term"])
            out["salt"].append(1 + min(N_SALTS - 1, (d - LO) * N_SALTS // SPAN) if salted else 0)
            out["doc_id"].append(d)
            out["tf"].append(int(tf[j]))
            out["dl"].append(int(dl[j]))
            out["positions"].append(pos[j].tolist())
            out["starts"].append(off[j].tolist())
    if not with_positions:
        del out["positions"]
    if not with_offsets:
        del out["starts"]
    return out


def _deleted(rows, deletes):
    """Sorted deleted ids: none, 150 random docs, or those plus every
    doc of a salted block and of an unsalted one."""
    if deletes == "none":
        return None
    rng = np.random.default_rng(11)
    all_docs = np.concatenate([decode_doc_ids(r["doc_bytes"]) for r in rows])
    deleted = rng.choice(np.unique(all_docs), 150, replace=False)
    if deletes == "whole_block":
        whole = [r for r in rows if r["block_no"] >= 100_000][:1]
        whole += [r for r in rows if r["block_no"] < 100_000][:1]
        deleted = np.concatenate([deleted] + [decode_doc_ids(r["doc_bytes"]) for r in whole])
    return np.unique(deleted).astype(np.int64)


# the column subsets the postings readers select
READER_COLUMNS = {
    "doc": ["doc_bytes"],
    "term+doc": ["term", "doc_bytes"],
    "doc/tf/dl": ["term", "doc_bytes", "tf_bytes", "dl_bytes"],
    "+pos": ["term", "doc_bytes", "tf_bytes", "pos_bytes"],
    "+pos+off": ["term", "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes", "off_bytes"],
}


@pytest.mark.parametrize("subset", list(READER_COLUMNS))
@pytest.mark.parametrize("deletes", ["none", "some", "whole_block"])
def test_decode_postings_matches_per_block_decoders(subset, deletes):
    rows = _blocks(seed=5)
    deleted = _deleted(rows, deletes)
    cols = READER_COLUMNS[subset]
    batch = pa.RecordBatch.from_pylist([{c: r[c] for c in cols} for r in rows])

    got = decode_postings(batch, deleted)

    want = {"row": [], "doc_id": [], "tf": [], "dl": [], "positions": [], "starts": []}
    for i, r in enumerate(rows):
        tf = decode_tfs(r["tf_bytes"], r["n"])
        pos = decode_positions(r["pos_bytes"], tf)
        off = decode_positions(r["off_bytes"], tf)
        for j, d in enumerate(decode_doc_ids(r["doc_bytes"]).tolist()):
            if deleted is not None and d in set(deleted.tolist()):
                continue
            want["row"].append(i)
            want["doc_id"].append(d)
            want["tf"].append(int(tf[j]))
            want["dl"].append(int(decode_tfs(r["dl_bytes"], r["n"])[j]))
            want["positions"] += pos[j].tolist()
            want["starts"] += off[j].tolist()
    carried = {"tf_bytes": "tf", "dl_bytes": "dl", "pos_bytes": "positions", "off_bytes": "starts"}
    keys = ["row", "doc_id"] + [v for k, v in carried.items() if k in cols]
    assert sorted(got) == sorted(keys)
    for k in keys:
        assert got[k].dtype == np.int64, k
        assert got[k].tolist() == want[k], k


@pytest.mark.parametrize(
    "null_col,message",
    [("pos_bytes", "index was built without positions"), ("off_bytes", "index was built without offsets")],
)
def test_decode_postings_null_stream_raises(null_col, message):
    cols = ["doc_bytes", "tf_bytes", "pos_bytes", "off_bytes"]
    batch = pa.RecordBatch.from_pylist(
        [{c: (None if c == null_col else r[c]) for c in cols} for r in _blocks(seed=2)[:3]],
        schema=pa.schema([(c, pa.binary()) for c in cols]),
    )
    with pytest.raises(ValueError, match=message):
        decode_postings(batch)


@pytest.mark.parametrize("with_positions,with_offsets", [(False, False), (True, False), (True, True)])
@pytest.mark.parametrize("deletes", ["none", "some", "whole_block"])
def test_decode_blocks_matches_per_block_decoders(with_positions, with_offsets, deletes):
    rows = _blocks(seed=7)
    deleted = _deleted(rows, deletes)
    cols = ["term", "block_no", "n", "doc_bytes", "tf_bytes", "dl_bytes"]
    cols += ["pos_bytes"] if with_positions else []
    cols += ["off_bytes"] if with_offsets else []
    batch = pa.RecordBatch.from_pylist([{c: r[c] for c in cols} for r in rows])

    got = decode_blocks(batch, deleted, LO, SPAN, N_SALTS, with_positions, with_offsets)
    want = _per_block(rows, deleted, with_positions, with_offsets)
    assert got.schema.names == list(want)
    assert got.to_pydict() == want
    assert any(s > 0 for s in want["salt"]) and 0 in want["salt"]


def test_decode_blocks_everything_deleted():
    rows = _blocks(seed=3)[:4]
    batch = pa.RecordBatch.from_pylist(
        [{c: r[c] for c in ("term", "block_no", "n", "doc_bytes", "tf_bytes", "dl_bytes")} for r in rows]
    )
    deleted = np.unique(np.concatenate([decode_doc_ids(r["doc_bytes"]) for r in rows]))
    assert decode_blocks(batch, deleted, LO, SPAN, N_SALTS, False, False) is None


@pytest.mark.parametrize("deletes", ["none", "whole_block"])
def test_decode_blocks_keeps_each_rows_target_salt(deletes):
    """merge_segments gives a salted block one row per salt bucket its
    [first, last] doc range touches (a ``salt`` column); decoding those
    rows keeps each row's own salt's postings, so together they give
    every posting exactly once, as the untagged decode does."""
    rows = _blocks(seed=9)
    deleted = _deleted(rows, deletes)
    cols = ["term", "block_no", "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes", "off_bytes"]

    def salt(d):
        return 1 + min(N_SALTS - 1, (d - LO) * N_SALTS // SPAN)

    tagged = []
    for r in rows:
        docs = decode_doc_ids(r["doc_bytes"])
        salts = [0] if r["block_no"] < 100_000 else range(salt(docs[0]), salt(docs[-1]) + 1)
        tagged += [{**{c: r[c] for c in cols}, "salt": s} for s in salts]
    assert len(tagged) > len(rows)  # some block straddles a salt boundary
    batch = pa.RecordBatch.from_pylist(
        tagged, schema=pa.RecordBatch.from_pylist(tagged).schema.set(
            len(cols), pa.field("salt", pa.int32())
        ),
    )

    got = decode_blocks(batch, deleted, LO, SPAN, N_SALTS, True, True)
    want = _per_block(rows, deleted, True, True)
    assert got.to_pydict() == want
