"""openie_with_entities_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
prajnaupadhyay/openie-with-entities (EACL 2023).

Architecture (idiomatic Spark, NOT a port):

    transcripts(conv_id, turn_idx, role, text, tool, ts)      [parquet]
        │  segment (native columns: normalize quotes, posexplode sentences)
        ▼
    sentences(conv_id, turn_idx, sent_idx, text)
        │  conj stage (mapInPandas: label → coordination decode → split)
        ▼
    split_sentences(conv_id, turn_idx, sent_idx, split_idx, text, conj_words)
        │  oie stage (mapInPandas: batched labeling → triple decode)
        ▼
    raw_triples → dropDuplicates → window top-k → triples
        │  mention stage (mapInPandas NER) → broadcast/salted alias join
        ▼
    linked mentions → connected-components canonicalization → entity_nodes
        ▼
    triples(…, arg1_entity_id, arg2_entity_id) + lineage/metrics tables

Everything outside the four mapInPandas stage bodies is native Spark SQL
(Catalyst-optimizable); all keys travel as columns (no driver-side dicts,
unlike the reference's `mapping` machinery at /root/reference/run.py:163-204).
"""

__version__ = "0.1.0"


def _reread_zips_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its file changed since the last read.

    A PySpark worker calls ``importlib.invalidate_caches()`` at every task
    start. On Python 3.10-3.12 that eagerly re-reads the whole directory of
    every zip on ``sys.path`` (pyspark.zip, the py4j zip, the spark-core
    jar: 16 importers), ~140 ms of CPU per task. Python 3.13 made the
    invalidation lazy, so there this does nothing. Runs once per process,
    at package import; every engine UDF imports the package in its worker.
    """
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13) or hasattr(zipimport.zipimporter.invalidate_caches, "stamps"):
        return
    reread, cache = zipimport.zipimporter.invalidate_caches, zipimport._zip_directory_cache

    def stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is not None and now == stamps.get(self.archive) and self.archive in cache:
            self._files = cache[self.archive]
        else:
            reread(self)
            stamps[self.archive] = now

    invalidate_caches.stamps = stamps = {}
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # one stamped read per archive now; its importers then share one directory
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_reread_zips_only_when_changed()
