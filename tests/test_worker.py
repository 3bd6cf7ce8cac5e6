"""Archive-importer pruning in the functions shipped to executors.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before
every task, which re-reads the central directory of every
``zipimporter`` in ``sys.path_importer_cache`` (the spark-core jar,
``pyspark.zip``, the py4j zip). Every engine executor entry point calls
:func:`pylate_spark.worker.forget_archive_importers` first, so a worker
that has just run one holds no archive importer for the next task to
re-read.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from pylate_spark.worker import forget_archive_importers


def _n_zipimporters() -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def test_forget_archive_importers_keeps_archive_importable(tmp_path):
    archive = tmp_path / "probe_pkg.zip"
    names = ("_pylate_zip_probe_a", "_pylate_zip_probe_b")
    with zipfile.ZipFile(archive, "w") as zf:
        for i, name in enumerate(names):
            zf.writestr(f"{name}.py", f"VALUE = {i + 1}\n")
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module(names[0]).VALUE == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

        forget_archive_importers()
        assert _n_zipimporters() == 0
        assert importlib.import_module(names[0]).VALUE == 1  # already imported: untouched
        assert importlib.import_module(names[1]).VALUE == 2  # the path hook rebuilds the entry
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        for name in names:
            sys.modules.pop(name, None)


def _segment_pdf() -> pd.DataFrame:
    from pylate_spark.plans.segments import encode_group_arrow

    n = 5
    return encode_group_arrow(
        np.zeros(2 * n, dtype=np.int64),
        np.zeros(2 * n, dtype=np.int64),
        np.array(["alpha"] * n + ["beta"] * n, dtype=object),
        np.tile(np.arange(n, dtype=np.int64), 2),
        np.ones(2 * n, dtype=np.int64),
        np.full(2 * n, 4, dtype=np.int64),
        4,
    ).to_pandas()


@pytest.mark.parametrize(
    "entry", ["tokenize", "score_shard", "arrow_carry_iterator"]
)
def test_executor_entry_point_leaves_no_archive_importer(spark, entry):
    """Run the entry point inside a Python worker and report that
    worker's ``zipimporter`` count right after it returns. Everything
    the task uses is defined here, so it ships by value (the test
    module is not importable on the worker)."""
    seg = _segment_pdf()

    def task(batches):
        import sys
        import zipimport

        import pyarrow as pa

        from pylate_spark.config import BM25Params
        from pylate_spark.functions.tokenize import TOKEN_PATTERN, _tokenize_series
        from pylate_spark.plans.segments import arrow_carry_iterator
        from pylate_spark.plans.wand import score_shard

        for _ in batches:
            pass
        if entry == "tokenize":
            _tokenize_series(pd.Series(["alpha beta", "gamma"]), TOKEN_PATTERN)
        elif entry == "score_shard":
            score_shard(seg, {0: ["alpha", "beta"]}, {"alpha": 1.0, "beta": 1.0}, 4.0, 3,
                        BM25Params(), mode="exhaustive", shard_size=8)
        else:
            rows = pa.RecordBatch.from_pydict(
                {"shard": [0, 0], "bucket": [0, 0], "term": ["alpha", "alpha"],
                 "docid": [0, 1], "tf": [1, 1], "dl": [4, 4]}
            )
            list(arrow_carry_iterator(iter([rows]), 4))
        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"n": [n]})

    counts = [r.n for r in spark.range(1, numPartitions=1).mapInPandas(task, "n long").collect()]
    assert counts == [0]
