#!/bin/sh
# Pre-commit gate for registry changes (round-6 verdict item 2).
#
# Usage:
#   scripts/precommit.sh                 # full registry under the VANILLA session
#   scripts/precommit.sh q1,q2,...       # just the named queries, all three sessions
#
# The vanilla session (bare SparkSession: Arrow off, default confs) is the
# environment class the real driver gate runs; driver_sim/hostile_sim catch
# value bugs, vanilla catches conf-sensitivity (the stream_job_queue class).
set -e
cd "$(dirname "$0")/.."
# Streaming gate rows must pass via their STREAMING path in the sims —
# no silent batch-twin fallback (round-6 verdict item 1).
NEURONDB_STRICT_STREAM=1
export NEURONDB_STRICT_STREAM
SF=${SPARK_GRAFT_SF_DIR_SMALL:-/root/testdata/sf0.01}
# Seconds, no Spark: a broken fixture key or completion marker, a
# correctness rotation that misreads the records, or a stream fallback
# that stops raising under strict mode fails here instead of minutes into
# a sim; so does a DBSCAN block kernel or a connected-components
# partition kernel that disagrees with the reference.
python -m pytest tests/test_fixtures.py tests/test_rotation.py tests/test_stream_or_batch.py tests/test_dbscan_kernel.py tests/test_cc_kernel.py -q
# Graph, DBSCAN, kmeans, distance-kernel, LSH/IVF search, index DML
# (HNSW insert/vacuum, IVF rebalance, IVF/LSH compact and their crash
# roll-forwards), near-duplicate resolution, MinHash/shingle, BPE
# trainer and tokenizer tests under
# production session configs; the test lane itself runs AQE and
# whole-stage codegen off (tests/conftest.py).
NEURONDB_TEST_AQE=true NEURONDB_TEST_CODEGEN=true python -m pytest tests/test_m5_operators.py tests/test_ml_extras.py tests/test_exact_ml.py tests/test_vector_extras.py tests/test_negative.py tests/test_index.py tests/test_knn_rewrite.py tests/test_hnsw_dml.py tests/test_dedup_pairs.py tests/test_ivf_dml.py tests/test_index_ingest.py tests/test_bpe.py tests/test_bpe_hybrid.py tests/test_tokenizer_io.py tests/test_neardup_resolve.py -m prodconf -q
if [ -n "$1" ]; then
  python scripts/driver_sim.py "$SF" "$1"
  python scripts/vanilla_sim.py "$SF" "$1"
  python scripts/hostile_sim.py "$SF" "$1"
else
  python scripts/vanilla_sim.py "$SF"
fi
echo "precommit gate: OK"
