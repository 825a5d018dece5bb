"""The worker start-up hook: its path rule without Spark, and the
Python processes of the test session importing the driver's pyspark."""

from __future__ import annotations

from kafka_hadoop_consumer_spark._pyworker.sitecustomize import zips_to_drop

SPARK_ZIPS = ["/opt/spark/python/lib/pyspark.zip",
              "/opt/spark/python/lib/py4j-0.10.9.9-src.zip"]


def _driver_dir(tmp_path, *packages):
    for name in packages:
        (tmp_path / name).mkdir()
        (tmp_path / name / "__init__.py").write_text("")
    return str(tmp_path)


def test_hook_drops_both_zips_when_driver_dir_holds_both_packages(tmp_path):
    d = _driver_dir(tmp_path, "pyspark", "py4j")
    assert zips_to_drop(["/app", *SPARK_ZIPS, d], d) == SPARK_ZIPS


def test_hook_keeps_path_without_usable_driver_dir(tmp_path):
    d = _driver_dir(tmp_path, "pyspark", "py4j")
    assert zips_to_drop([*SPARK_ZIPS], d) == []  # not on the path
    assert zips_to_drop([*SPARK_ZIPS, d], None) == []  # not passed
    missing = str(tmp_path / "gone")
    assert zips_to_drop([*SPARK_ZIPS, missing], missing) == []  # absent
    empty = str(tmp_path / "py4j")  # exists, holds no pyspark
    assert zips_to_drop([*SPARK_ZIPS, empty], empty) == []


def test_hook_keeps_py4j_zip_when_driver_dir_lacks_py4j(tmp_path):
    d = _driver_dir(tmp_path, "pyspark")
    assert zips_to_drop([*SPARK_ZIPS, d], d) == SPARK_ZIPS[:1]


def _assert_driver_pyspark(pyspark_file, omp):
    assert ".zip" not in pyspark_file, pyspark_file
    assert omp is not None and int(omp) >= 1


def test_task_worker_imports_driver_pyspark(spark):
    import pandas as pd

    def probe(batches):
        import os

        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"f": [pyspark.__file__],
                            "omp": [os.environ.get("OMP_NUM_THREADS")]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "f string, omp string").collect()
    assert len(rows) == 1
    _assert_driver_pyspark(rows[0].f, rows[0].omp)


def test_planner_process_imports_driver_pyspark(spark):
    """``partitions()`` runs in the data-source planner process, not in a
    task worker; Spark sets OMP_NUM_THREADS for task workers only, so
    here it comes from the hook."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class Reader(DataSourceReader):
        def partitions(self):
            import os

            import pyspark

            return [InputPartition((pyspark.__file__,
                                    os.environ.get("OMP_NUM_THREADS")))]

        def read(self, partition):
            yield partition.value

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "khcs_pyspark_probe"

        def schema(self):
            return "f string, omp string"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(Probe)
    rows = spark.read.format("khcs_pyspark_probe").load().collect()
    assert len(rows) == 1
    _assert_driver_pyspark(rows[0].f, rows[0].omp)
    assert rows[0].omp == "1"
