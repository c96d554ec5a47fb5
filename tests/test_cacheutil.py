"""Serve-once store, table fingerprint and staging on a Spark-written
(directory-form) corpus.

The test tables are single parquet files, but a table written by
Spark is a directory of part files whose inode neither grows with the
data nor changes when a part file is rewritten in place. These tests
copy sf0.001 into that layout and check that served results, cache
invalidation, staging paths and iteration-frame sizing all follow the
part files.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE, TABLES

DIR_TABLES = ("documents", "embeddings", "events")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _data_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, f)
        for f in os.listdir(table_dir)
        if not f.startswith(("_", "."))
    )


@pytest.fixture(scope="module")
def dir_corpus(spark, tmp_path_factory):
    """sf0.001 with documents/embeddings/events as Spark-written
    ``*.parquet/`` directories (3 part files each), under a directory
    that is also named ``sf0.001``."""
    from big_data_code_spark.sources.tables import load_table

    out = str(tmp_path_factory.mktemp("layout") / os.path.basename(SF_SMOKE))
    os.makedirs(out)
    for t in TABLES:
        src = os.path.join(SF_SMOKE, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t not in DIR_TABLES:
            shutil.copyfile(src, dst)
            continue
        load_table(spark, SF_SMOKE, t).repartition(3).write.parquet(dst)
        # checksum sidecars would reject the in-place rewrite below
        for f in os.listdir(dst):
            if f.endswith(".crc"):
                os.remove(os.path.join(dst, f))
    return out


def test_fingerprint_sums_part_files(dir_corpus):
    from big_data_code_spark.cacheutil import fingerprint

    table_dir = os.path.join(dir_corpus, "documents.parquet")
    parts = _data_files(table_dir)
    assert len(parts) == 3
    path, nbytes, mtime = fingerprint(dir_corpus, "documents")
    assert path == os.path.abspath(table_dir)
    assert nbytes == sum(os.path.getsize(p) for p in parts)
    assert nbytes > 3 * os.stat(table_dir).st_size
    assert mtime >= max(os.stat(p).st_mtime_ns for p in parts)
    f_path, f_bytes, _ = fingerprint(SF_SMOKE, "documents")
    assert f_bytes == os.path.getsize(f_path)
    assert fingerprint(dir_corpus, "no_such_table")[1:] == (0, 0)


def test_narrow_for_iteration_sizes_from_part_bytes(spark, dir_corpus):
    from big_data_code_spark.cacheutil import fingerprint
    from big_data_code_spark.operators.skew import narrow_for_iteration

    nbytes = fingerprint(dir_corpus, "documents")[1]
    wide = spark.range(64).repartition(8)
    # ceil(nbytes / target) = 3 partitions; the 4 KB directory inode
    # would have collapsed the frame to one
    narrowed = narrow_for_iteration(wide, dir_corpus, "documents", nbytes // 3 + 1)
    assert narrowed.rdd.getNumPartitions() == 3
    assert narrow_for_iteration(wide, dir_corpus, "no_such_table") is wide


def test_served_results_follow_directory_tables(spark, dir_corpus):
    from big_data_code_spark.plans import llm

    for served, build in (
        (llm.dedup_corpus_final, llm.dedup_corpus_final_build),
        (llm.knn_graph, llm.knn_graph_build),
    ):
        rows = _rows(served(spark, dir_corpus))
        assert rows == _rows(build(spark, dir_corpus))
        assert rows == _rows(served(spark, SF_SMOKE))


def test_streamed_events_follow_directory_tables(spark, dir_corpus):
    from big_data_code_spark.plans.registry import QUERIES

    name = "streaming_pageviews_hourly"
    rows = _rows(QUERIES[name](spark, dir_corpus))
    assert rows and rows == _rows(QUERIES[name](spark, SF_SMOKE))


def test_staging_is_keyed_by_path_not_basename(spark, dir_corpus):
    from big_data_code_spark.plans.speed import _chunked_events_dir

    assert os.path.basename(dir_corpus) == os.path.basename(SF_SMOKE)
    mine = _chunked_events_dir(spark, dir_corpus)
    theirs = _chunked_events_dir(spark, SF_SMOKE)
    assert mine != theirs
    # staging the second corpus must not remove the first's
    assert os.path.isdir(mine) and os.path.isdir(theirs)
    assert len(_data_files(mine)) == len(_data_files(theirs)) == 3


def test_part_rewrite_in_place_misses_the_store(spark, dir_corpus):
    from big_data_code_spark.cacheutil import _STORE, fingerprint
    from big_data_code_spark.plans import llm
    from big_data_code_spark.plans.speed import _chunked_docs_dir

    table_dir = os.path.join(dir_corpus, "documents.parquet")
    before_fp = fingerprint(dir_corpus, "documents")
    first = llm.dedup_corpus_final(spark, dir_corpus)
    assert llm.dedup_corpus_final(spark, dir_corpus) is first
    first_rows = _rows(first)
    old_staging = _chunked_docs_dir(spark, dir_corpus)
    dir_mtime = os.stat(table_dir).st_mtime_ns

    # rewrite one part file in place: same name, one row fewer
    part = _data_files(table_dir)[0]
    smaller = os.path.join(os.path.dirname(dir_corpus), "smaller")
    src = spark.read.parquet(part)
    src.limit(src.count() - 1).coalesce(1).write.parquet(smaller)
    with open(_data_files(smaller)[0], "rb") as f:
        data = f.read()
    with open(part, "r+b") as f:
        f.truncate(0)
        f.write(data)
    assert os.stat(table_dir).st_mtime_ns == dir_mtime

    after_fp = fingerprint(dir_corpus, "documents")
    assert after_fp != before_fp
    second = llm.dedup_corpus_final(spark, dir_corpus)
    assert second is not first
    assert [k for k in _STORE if k[0] == "dedup_corpus_final" and k[2] == before_fp] == []
    rows = _rows(second)
    assert rows != first_rows
    assert rows == _rows(llm.dedup_corpus_final_build(spark, dir_corpus))

    new_staging = _chunked_docs_dir(spark, dir_corpus)
    assert new_staging != old_staging
    assert os.path.isdir(new_staging) and not os.path.exists(old_staging)
