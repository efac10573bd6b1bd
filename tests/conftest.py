from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session

    spark = get_session("engine-tests")
    yield spark
    spark.stop()


#: Part files per table in the directory layout (the production shape).
DIR_LAYOUT_PARTS = 3


@pytest.fixture
def dir_layout(spark, tmp_path):
    """Factory: ``dir_layout(*tables)`` rewrites those sf0.01 tables as
    directories of DIR_LAYOUT_PARTS part files under ``tmp_path`` with a
    Spark write, and returns that sf dir. The source tables are only
    read."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    root = tmp_path / "dir_layout"

    def make(*tables: str) -> str:
        for table in tables:
            path = root / f"{table}.parquet"
            load_table(spark, SF_CORRECT, table).repartition(DIR_LAYOUT_PARTS).write.parquet(str(path))
            assert len(list(path.glob("part-*.parquet"))) >= DIR_LAYOUT_PARTS
        return str(root)

    return make
