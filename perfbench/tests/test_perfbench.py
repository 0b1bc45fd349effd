"""Tests of the benchmark's own pieces: generator determinism and ground
truth, the felt encoder against decode.decode_events, the percentile
rule and span self-time.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.gen import (
    ALL_FAMILIES,
    FEED_SCHEMA,
    encode,
    feed_rows,
    generate_chain,
    normalize_decoded,
    write_canonical,
)
from perfbench.trace import Span, Tracer, percentile, self_time
from starknet_indexer_spark import decode as D
from starknet_indexer_spark.ingest import EVENT_SELECTORS


def _feed_bytes(tmp_path, seed: int) -> list[bytes]:
    out = tmp_path / f"feed-{seed}-{len(list(tmp_path.iterdir()))}"
    write_canonical(generate_chain(seed, 40, 10), str(out))
    return [p.read_bytes() for p in sorted(out.iterdir())]


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b = generate_chain(5, 60, 12), generate_chain(5, 60, 12)
    assert a.messages == b.messages
    assert a.table_rows() == b.table_rows()
    assert a.pool_states() == b.pool_states()
    assert generate_chain(6, 60, 12).messages != a.messages
    assert _feed_bytes(tmp_path, 5) == _feed_bytes(tmp_path, 5)


def test_chain_reorgs_and_truth():
    chain = generate_chain(3, 300, 8)
    markers = [m for m in chain.messages if m[0] == "invalidate"]
    assert len(markers) > 3, "a reorg every ~20 blocks over 300 blocks"
    canon = chain.canonical()
    assert sorted(canon) == list(range(1, 301))
    assert chain.last_valid_block() == 300
    # a replayed block keeps only its last version
    for m in markers:
        replayed = [msg for msg in chain.messages if msg[0] == "block" and msg[1] == m[1] + 1]
        assert canon[m[1] + 1] is replayed[-1][2]
    rows = chain.table_rows()
    assert rows["blocks"] == 300
    assert sum(v for k, v in rows.items() if k not in ("blocks", "pool_keys", "governor_proposed_calls")) == chain.n_events()


def test_families_restrict_the_mix():
    chain = generate_chain(1, 30, 10, families=("pool_initialized", "swapped"))
    fams = {e.family for evs in chain.canonical().values() for e in evs}
    assert fams == {"pool_initialized", "swapped"}


def test_invalidate_marker_row():
    cols = feed_rows(("invalidate", 41))
    assert cols["block_number"] == [41] and cols["keys"] == [["invalidate"]]
    assert list(cols) == FEED_SCHEMA.names


def test_encode_fixed_layouts():
    assert encode(D.i129, -5) == ["0x5", "0x1"]
    assert encode(D.u256, (3 << 128) | 7) == ["0x7", "0x3"]
    assert encode(D.byte_array, "a" * 33) == [
        "0x1",
        hex(int.from_bytes(b"a" * 31, "big")),
        hex(int.from_bytes(b"aa", "big")),
        "0x2",
    ]
    swap = next(
        e for e in generate_chain(2, 3, 30).canonical()[2] if e.family == "swapped"
    )
    assert len(encode(D.EVENT_PARSERS["swapped"], swap.value)) == 21


def test_percentile_nearest_rank():
    assert percentile([5], 95) == 5
    assert percentile([1, 2, 3, 4], 50) == 2
    assert percentile(list(range(1, 101)), 95) == 95
    assert percentile(list(range(1, 101)), 100) == 100
    assert percentile([3, 1, 2], 0) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_merged_children():
    parent = Span(0, "p", 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 5.0, parent=0),  # overlaps a: counted once
        Span(3, "c", 8.0, 12.0, parent=0),  # clipped to the parent's end
        Span(4, "g", 1.5, 2.0, parent=1),  # grandchild: not the parent's child
    ]
    assert self_time(parent, spans) == pytest.approx(10 - 4 - 2)
    assert self_time(spans[1], spans) == pytest.approx(3 - 0.5)


def test_tracer_nesting_and_disabled():
    t = Tracer(True)
    with t.span("outer") as o:
        with t.span("inner", request="r1") as i:
            pass
    assert i.parent == o.id and i.request == "r1" and o.parent is None
    off = Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


@pytest.fixture(scope="module")
def spark():
    from starknet_indexer_spark.session import get_spark

    return get_spark("perfbench-tests", **{"spark.ui.showConsoleProgress": "false"})


def test_every_family_round_trips_through_decode(spark, tmp_path):
    """One generated event per family, written as a feed file with
    pyarrow, decoded by the program, equals the generator's value."""
    from pyspark.sql import functions as F

    from starknet_indexer_spark.sources.feed import read_feed_batch

    chain = generate_chain(9, 400, 20)
    sample = {}
    for evs in chain.canonical().values():
        for e in evs:
            sample.setdefault(e.family, e)
    assert set(sample) == set(ALL_FAMILIES)
    cols = {f.name: [] for f in FEED_SCHEMA}
    for i, e in enumerate(sample.values()):
        e.tx = i
        for k, v in feed_rows(("block", 7, [e])).items():
            cols[k] += v
    pq.write_table(pa.table(cols, schema=FEED_SCHEMA), str(tmp_path / "feed.parquet"))
    raw = read_feed_batch(spark, str(tmp_path))
    for fam, e in sample.items():
        parser = D.EVENT_PARSERS[fam]
        rows = (
            D.decode_events(raw.filter(F.get("keys", 0) == EVENT_SELECTORS[fam]), fam, flatten=False)
            .select("decoded")
            .collect()
        )
        assert len(rows) == 1, fam
        assert normalize_decoded(parser, rows[0]["decoded"]) == e.value, fam
