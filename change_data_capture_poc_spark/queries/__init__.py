"""Query surface — importing this package populates the registry.

Modules:
- ``scd2_q``      — the CDC/SCD2 pipeline queries (reference parity)
- ``relational``  — scans/filters/joins/aggs/windows/sorts/set ops
- ``datapipe``    — dedup / similarity / text / multimodal (north star;
                    MinHash LSH lives in operators/minhash.py, the
                    quality rules and classifier in operators/quality.py)
- ``operators_q`` — custom-operator queries (as-of, sessions, simhash,
                    salted join, sketches, CDC e2e)
- ``functions_q`` — scalar/window/statistical function families
- ``sql_q``       — Spark SQL-authored warehouse query shapes
- ``streaming_q`` — Structured Streaming drains (stateful, windowed)
- ``cdc_ops_q``   — CDC maintenance ops (net-effect compaction,
                    snapshot diff, checksums, incremental merge,
                    fuzzy join, EMA)
- ``pipeline3_q`` — corpus curation (splits, budgets, spans, rerank,
                    kmeans/PCA, evals)
- ``pipeline4_q`` — sliding-window chunking (chunker in
                    operators/chunking.py), multiprobe IVF recall
                    (index and gate from operators/ann.py), backoff
                    LM, winnowing,
                    Misra-Gries heavy hitters (operators/sketch.py),
                    sampling
- ``pipeline5_q`` — CCNet perplexity pruning, IVF hard negatives,
                    tokenizer fertility
- ``pipeline6_q`` — ExactSubstr detection+removal, PII classes,
                    Kneser-Ney, portable HLL, bottom-k sampling,
                    filter funnel, kNN graph (the span fingerprints
                    and HLL registers/estimator live in
                    operators/sketch.py)
- ``pipeline7_q`` — portable Count-Min sketch + Bloom-with-FPR (both
                    sketches live in operators/sketch.py),
                    PQ/ADC + composed IVF-PQ recall (the PQ and
                    IVF-PQ algorithms live in operators/ann.py), semantic
                    decontamination, bitext margin mining, DoReMi
                    reweighting, iterative BPE training (trainer in
                    operators/subword.py), MAD/CUSUM robust
                    statistics, dup-graph triangles, A-Res weighted
                    sampling (priority and oracle in operators/topk.py),
                    schema-evolution CDC reads, and the composed
                    weighted corpus build
- ``pipeline8_q`` — portable histogram-quantile sketch (+ stream
                    twin; grid and readout in operators/sketch.py),
                    F2 self-join-size sketch, HLL set algebra,
                    hash-sampled-truth recall gate, evolved-schema
                    SCD2 recompute, data-constrained epoch planner,
                    Welch t-test, DP noisy counts + k-anonymity audit,
                    nearest as-of + video scene segmentation (in
                    operators_q)
- ``pipeline9_q`` — corpus-scale BPE encode, sampled-truth multiprobe
                    recall gate, persisted IVF-PQ index build/serve/
                    compact lifecycle over operators/ann.py, best-fit
                    sequence packing, CDC quarantine report and
                    replay (log and rule in cdc/quarantine.py), and the
                    tokenizer queries and vocabulary artifacts over
                    operators/subword.py (BPE encode/decode, WordPiece
                    MaxMatch and threshold curve, unigram EM train/
                    Viterbi encode/soft e-step, family bake-off)
- ``pipeline10_q`` — content-defined chunking (map-only fold in
                    operators/chunking.py) + chunk dedup reports
                    (batch/incremental), retrieval
                    quality (nDCG@10/MRR@100), RRF hybrid fusion,
                    deterministic epoch shuffle plan, cross-modal
                    retrieval, entity resolution (match/merge/eval),
                    DP quantile release, deep-graph components
- ``pipeline11_q`` — CDC type-widening schema evolution (Spark 4
                    Parquet type-widening reader over two physical
                    writer generations), corpus data card rollup
- ``pipeline12_q`` — URL-canonicalization dedup (RefinedWeb/Dolma
                    front-line crawl dedup key; rule in
                    functions/url.py), applied paragraph
                    Bloom dedup (Dolma's check-then-add stream made
                    relational via per-bit first-set times)
"""

import change_data_capture_poc_spark.queries.scd2_q  # noqa: F401
import change_data_capture_poc_spark.queries.relational  # noqa: F401
import change_data_capture_poc_spark.queries.datapipe  # noqa: F401
import change_data_capture_poc_spark.queries.operators_q  # noqa: F401
import change_data_capture_poc_spark.queries.functions_q  # noqa: F401
import change_data_capture_poc_spark.queries.sql_q  # noqa: F401
import change_data_capture_poc_spark.queries.streaming_q  # noqa: F401
import change_data_capture_poc_spark.queries.cdc_ops_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline3_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline4_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline5_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline6_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline7_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline8_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline9_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline10_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline11_q  # noqa: F401
import change_data_capture_poc_spark.queries.pipeline12_q  # noqa: F401
