"""Where the traced run puts its spans: one wrapper per public function
of each engine layer, plus the Spark actions (the calls where lazy plans
execute), and the byte/row counters recorded beside them."""

from __future__ import annotations

import glob
import os


def _size(path) -> int:
    try:
        return os.path.getsize(path)
    except (OSError, TypeError):
        return 0


def _count_split(tr, result, args, kwargs):
    tr.count("utility.split_file.bytes", _size(args[0]))


def _count_compress(tr, result, args, kwargs):
    tr.count("utility.compress_file.bytes_in", _size(args[0]))
    tr.count("utility.compress_file.bytes_out", _size(args[1]))


def _count_upload(tr, result, args, kwargs):
    tr.count("sources.stage.upload.bytes", _size(args[1]))


def _count_unload(tr, result, args, kwargs):
    path = args[2] if len(args) > 2 else kwargs["path"]
    files = glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
    tr.count("sources.unload.bytes_written", sum(_size(p) for p in files))


def _count_rows(tr, result, args, kwargs):
    tr.count("database.to_dataframe.rows", 0 if result is None else len(result))


def install(tracer, spark) -> None:
    """Patch every traced function; ``tracer.unpatch()`` undoes it."""
    import locopy_spark.database as database
    import locopy_spark.functions.cache as cache
    import locopy_spark.functions.schema_inference as schema_inference
    import locopy_spark.operators.ann_index as ann_index
    import locopy_spark.operators.dedup as dedup
    import locopy_spark.sources.bucketed as bucketed
    import locopy_spark.sources.copy as copy
    import locopy_spark.sources.dataframe_io as dataframe_io
    import locopy_spark.sources.stage as stage
    import locopy_spark.sources.tables as tables
    import locopy_spark.sources.unload as unload
    import locopy_spark.utility as utility
    import locopy_spark.warehouse as warehouse

    # load_and_copy / upload_to_internal import these at call time,
    # from the module: patching the module attribute reaches them
    tracer.patch_function(utility, "split_file", "utility.split_file", _count_split)
    tracer.patch_function(utility, "compress_file", "utility.compress_file", _count_compress)
    tracer.patch_method(stage.Stage, "upload", "sources.stage.upload", _count_upload)
    for meth in ("load_and_copy", "copy", "upload_to_internal", "unload",
                 "unload_and_copy", "insert_dataframe_to_table"):
        tracer.patch_method(warehouse.Warehouse, meth, f"warehouse.{meth}")
    # warehouse binds these at import: patch_function rebinds every
    # locopy_spark module attribute that holds the original
    tracer.patch_function(copy, "copy_files", "sources.copy.copy_files")
    tracer.patch_function(unload, "unload", "sources.unload.unload", _count_unload)
    tracer.patch_function(
        dataframe_io, "insert_dataframe_to_table",
        "sources.dataframe_io.insert_dataframe_to_table",
    )
    tracer.patch_function(
        schema_inference, "find_column_type", "functions.schema_inference.find_column_type"
    )
    tracer.patch_method(database.Database, "execute", "database.execute")
    tracer.patch_method(database.Database, "to_dataframe", "database.to_dataframe", _count_rows)
    tracer.patch_function(tables, "load_table", "sources.tables.load_table")
    tracer.patch_function(bucketed, "write_bucketed", "sources.bucketed.write_bucketed")
    tracer.patch_function(cache, "managed_persist", "functions.cache.managed_persist")
    tracer.patch_function(cache, "release_persists", "functions.cache.release_persists")
    for fn in ("knn_lsh_indexed", "knn_ivf_indexed", "knn_int8_indexed",
               "materialize_ann_index"):
        tracer.patch_function(ann_index, fn, f"operators.ann_index.{fn}")
    for fn in ("exact_dedup", "minhash_lsh_pairs"):
        tracer.patch_function(dedup, fn, f"operators.dedup.{fn}")

    # Spark actions: where lazy plans execute.  Each method is patched on
    # the class of the session's DataFrame / writer that defines it.
    df = spark.range(1)
    for cls, meths in (
        (type(df), ("collect", "count", "toPandas", "toLocalIterator")),
        (type(df.write), ("save", "saveAsTable", "insertInto", "csv", "parquet", "json", "orc")),
    ):
        for meth in meths:
            owner = next(c for c in cls.__mro__ if meth in c.__dict__)
            tracer.patch_method(owner, meth, "spark.action")


def query_family(fn) -> str:
    """``queries.<module>`` for a ``locopy_spark.queries.<module>`` callable."""
    return "queries." + fn.__module__.rsplit(".", 1)[-1]
