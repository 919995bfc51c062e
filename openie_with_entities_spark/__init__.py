"""openie_with_entities_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
prajnaupadhyay/openie-with-entities (EACL 2023).

Architecture (idiomatic Spark, NOT a port).

Production (plans.production.run_production, plans.pipeline.build_kg_fused,
the stream in streaming.ingest):

    transcripts(conv_id, turn_idx, role, text, tool, ts)      [parquet]
        │  layout: session.fit_partitions to cores×3 tasks (a conv_id
        │  hash repartition only when the input cannot feed every core)
        ▼
    fused stage (extract.fused, ONE mapInArrow pass per turn batch:
        segment → conj label → coordination decode → split → OIE label →
        triple decode → per-sentence dedup → entity link through the
        dictionary that linking.dictionary_surfaces collects once)
        ▼
    triples(…, arg1_entity_id, arg1_ner_type, arg2_entity_id, …)
        │  [checkpointed per bucket, with lineage]
        ├─► entity_nodes: canonicalize.entity_nodes, one mapInPandas NER
        │   pass over the distinct argument texts joined to the broadcast
        │   alias table (a star forest: the canonical id is the entity id)
        ├─► graph_edges
        └─► metrics (violation counters, stage counters)

Modular path (plans.pipeline.extract_triples / build_kg: the reference the
tests and driver contracts check the fused stage against, and the salted
link mode for a dictionary too big to collect):

    transcripts → segment (native columns) → conj stage (mapInPandas)
        → oie stage (mapInPandas) → keep-first window dedup → triples
        → mention stage (extract.mentions, mapInArrow NER)
        → broadcast or salted alias join → linked triples

The labeling and decode work per text exists once, as the extract.stages
kernels both paths call; everything around the Python stage bodies is
native Spark SQL.
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
