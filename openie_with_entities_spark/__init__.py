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
