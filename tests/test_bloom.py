"""Unit + property tests for the Bloom segment store."""

import random

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fraudcrawler_spark.frontier.bloom import (
    BloomSegment,
    segments_from_pdf,
    segments_to_pdf,
)
from fraudcrawler_spark.frontier.seen import SeenStore


def test_bloom_add_contains():
    seg = BloomSegment(capacity=1000)
    urls = [f"https://shop{i}.ch/p{i:06d}" for i in range(500)]
    seg.add_many(urls)
    assert seg.contains_many(urls).all()
    others = [f"https://other{i}.ch/x{i}" for i in range(500)]
    fp = seg.contains_many(others).mean()
    assert fp < 0.05  # 10 bits/key k=7 ⇒ ~1% expected


def test_bloom_serialization_roundtrip():
    seg = BloomSegment(capacity=100)
    urls = [f"u{i}" for i in range(50)]
    seg.add_many(urls)
    pdf = segments_to_pdf({3: seg})
    back = segments_from_pdf(pdf)[3]
    assert back.contains_many(urls).all()
    assert (back.bits == seg.bits).all()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=50))
def test_bloom_no_false_negatives(urls):
    seg = BloomSegment(capacity=64)
    seg.add_many(urls)
    assert seg.contains_many(urls).all()


def test_seen_store_exactness(spark):
    """filter_new must be EXACT (Bloom FPs confirmed away) — north_rule."""
    store = SeenStore(spark, partitions=8, capacity_per_part=256)
    seen_urls = [f"https://s.ch/p{i:06d}" for i in range(300)]
    store.add(spark.createDataFrame(pd.DataFrame({"url": seen_urls})))
    probe = [f"https://s.ch/p{i:06d}" for i in range(200, 600)]
    got = {
        r[0]
        for r in store.filter_new(
            spark.createDataFrame(pd.DataFrame({"url": probe}))
        ).collect()
    }
    want = set(probe) - set(seen_urls)
    assert got == want  # exact, regardless of Bloom FPs


def test_seen_store_incremental(spark):
    store = SeenStore(spark, partitions=4, capacity_per_part=128)
    a = spark.createDataFrame(pd.DataFrame({"url": [f"a{i}" for i in range(50)]}))
    b = spark.createDataFrame(pd.DataFrame({"url": [f"b{i}" for i in range(50)]}))
    store.add(a)
    store.add(b)
    probe = spark.createDataFrame(
        pd.DataFrame({"url": ["a1", "b1", "c1", "a49", "b49", "c2"]})
    )
    got = {r[0] for r in store.filter_new(probe).collect()}
    assert got == {"c1", "c2"}


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_seen_store_ops_match_set_model(spark, kind):
    """Random batches of claims, retires (cuckoo only) and probes through
    the store agree with a plain set: ``filter_new`` is exact, the
    segments' summed ``n_items`` is the set's size, and ``fill_ratio`` is
    the max load of the segments the pass left. One batch reads the
    segments and reloads them between its retire and its claim, as the
    traced benchmark run does; each delete must still apply once. Another
    retires urls it claimed before any pass ran."""
    rng = random.Random(11)
    universe = [f"https://h{i % 7}.ch/p{i:04d}" for i in range(300)]
    store = SeenStore(spark, partitions=4, capacity_per_part=32,
                      filter_kind=kind)
    model: set[str] = set()

    def df(urls):
        return spark.createDataFrame([(u,) for u in sorted(urls)], "url string")

    def claim():
        claims = set(rng.sample(sorted(set(universe) - model), 40))
        store.probe_and_claim(df(claims))
        model.update(claims)

    def retire(reload: bool):
        ret = set(rng.sample(sorted(model), len(model) // 3))
        store.retire(df(ret))
        model.difference_update(ret)
        if reload:
            store.load(store.segments.localCheckpoint(), store.seen)

    for batch in range(4):
        if kind == "bloom":
            claim()
        elif batch == 3:  # a claim recorded before a retire in one pass
            claim()
            retire(reload=False)
        else:
            if model:
                retire(reload=batch == 2)
            claim()
        probe = set(rng.sample(universe, 120))
        got = {r[0] for r in store.filter_new(df(probe)).collect()}
        assert got == probe - model, batch
        seg = store.segments.select(
            F.sum("n_items"), F.max(F.col("n_items") / F.col("capacity"))
        ).first()
        assert seg[0] == len(model), batch
        assert store.fill_ratio == seg[1], batch
