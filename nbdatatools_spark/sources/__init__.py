import os

from nbdatatools_spark.sources.xvec import (  # noqa: F401
    is_xvec,
    read_xvec,
    write_xvec,
    xvec_dtype,
    XVEC_FORMATS,
)
from nbdatatools_spark.sources.csv_vec import read_csv_vectors  # noqa: F401
from nbdatatools_spark.sources.dataset import DatasetManifest, load_dataset  # noqa: F401
from nbdatatools_spark.sources.catalog import Catalog  # noqa: F401
from nbdatatools_spark.sources.slab import SlabStore  # noqa: F401
from nbdatatools_spark.sources.sqlite_store import (  # noqa: F401
    read_predicate_store,
    read_sqlite_table,
)


def open_vectors(spark, path: str):
    """Extension-dispatched vector ingest (VectorFileIO.open analogue): an
    xvec extension (``.fvecs``-style aliases included) through
    ``read_xvec``, ``.parquet`` or a directory as a Parquet table,
    ``.csv`` through ``read_csv_vectors``; anything else raises
    ``ValueError``."""
    if is_xvec(path):
        return read_xvec(spark, path)
    if path.endswith(".parquet") or os.path.isdir(path):
        return spark.read.parquet(path)
    if path.endswith(".csv"):
        return read_csv_vectors(spark, path)
    raise ValueError(f"unsupported vector input: {path}")
