"""The ``flinkrunner_spark.memo`` registry: one memo + release lifecycle
for every persisted frame the ``llm.*`` operators share."""

from __future__ import annotations

import itertools
from types import SimpleNamespace

from conftest import SF_SMOKE as SF

from flinkrunner_spark import memo

SF_A = "/memo-test/sf-a"
SF_B = "/memo-test/sf-b"

_SIZES = itertools.count(5)


def _frame(spark):
    # a distinct plan per frame: Spark's cache manager shares one cache
    # entry between plans with the same result, so unpersisting one
    # identical frame would unpersist them all
    df = spark.range(next(_SIZES)).persist()
    df.count()
    return df


def test_repeat_call_returns_same_object(spark):
    calls = []

    def build():
        calls.append(1)
        return _frame(spark)

    first = memo.memo(spark, "test.memo.repeat", SF_A, build)
    again = memo.memo(spark, "test.memo.repeat", SF_A, build)
    assert again is first and len(calls) == 1
    # a different extra key is a different entry
    other = memo.memo(spark, "test.memo.repeat", SF_A, build, key=(2,))
    assert other is not first and len(calls) == 2
    memo.release("test.memo")
    assert not first.storageLevel.useMemory


def test_release_by_sf_dir_frees_only_that_corpus(spark):
    a = memo.memo(spark, "test.memo.corpus", SF_A, lambda: _frame(spark))
    b = memo.memo(spark, "test.memo.corpus", SF_B, lambda: _frame(spark))
    memo.release(sf_dir=SF_A)
    assert not memo.entries("test.memo", SF_A)
    assert not a.storageLevel.useMemory
    assert list(memo.entries("test.memo", SF_B).values()) == [b]
    assert b.storageLevel.useMemory
    memo.release("test.memo")
    assert not b.storageLevel.useMemory


def test_release_by_prefix_leaves_other_modules(spark):
    d = memo.memo(spark, "llm.dedup.memo_test", SF_A, lambda: _frame(spark))
    s = memo.memo(
        spark, "llm.similarity.memo_test", SF_A, lambda: _frame(spark)
    )
    # a prefix matches whole dotted components, not a string prefix
    x = memo.memo(spark, "llm.dedupx.memo_test", SF_A, lambda: _frame(spark))
    memo.release("llm.dedup")
    assert not memo.entries("llm.dedup", SF_A)
    assert not d.storageLevel.useMemory
    assert memo.entries("llm.similarity.memo_test", SF_A)
    assert s.storageLevel.useMemory
    assert memo.entries("llm.dedupx", SF_A) and x.storageLevel.useMemory
    memo.release("llm.similarity.memo_test")
    memo.release("llm.dedupx")
    assert not s.storageLevel.useMemory and not x.storageLevel.useMemory


def test_stopped_application_entries_are_evicted(spark):
    stopped = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-stopped")
    )
    memo.memo(stopped, "test.memo.stale", SF_A, lambda: "old")
    assert memo.entries("test.memo.stale")
    # the next access from the live application drops the stale entry
    # without touching its (dead) frames
    assert memo.memo(spark, "test.memo.stale", SF_A, lambda: "new") == "new"
    apps = {k[1] for k in memo.entries("test.memo.stale")}
    assert apps == {spark.sparkContext.applicationId}
    memo.release("test.memo")


def test_pin_adds_one_entry_per_call(spark):
    p1 = memo.pin(spark, "test.memo.pin", SF_A, _frame(spark))
    p2 = memo.pin(spark, "test.memo.pin", SF_A, _frame(spark))
    assert len(memo.entries("test.memo.pin", SF_A)) == 2
    memo.release("test.memo.pin", SF_A)
    assert not memo.entries("test.memo.pin")
    assert not p1.storageLevel.useMemory and not p2.storageLevel.useMemory


def test_free_hook_replaces_unpersist(spark):
    freed = []
    memo.memo(
        spark, "test.memo.hook", SF_A, lambda: (_frame(spark), 7),
        free=freed.append,
    )
    memo.release("test.memo.hook")
    # only the DataFrame members of a tuple entry are freed
    assert len(freed) == 1
    freed[0].unpersist()


def test_embedding_count_is_released_like_every_entry(spark):
    from flinkrunner_spark.llm import similarity

    similarity.release_caches(SF)
    n = similarity._emb_count(spark, SF)
    assert n == spark.read.parquet(f"{SF}/embeddings.parquet").count()
    key = ("llm.similarity.emb_count", spark.sparkContext.applicationId, SF)
    assert memo.entries("llm.similarity", SF) == {key: n}
    similarity.release_caches(SF)
    assert not memo.entries("llm.similarity", SF)
    similarity._emb_count(spark, SF)
    memo.release()  # the bench's between-pass call drains it as well
    assert not memo.entries("llm.similarity")
