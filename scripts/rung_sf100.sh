#!/bin/bash
# sf100 rung protocol — the disk-sequenced ladder steps for a ~80 GB-free
# box (PERF.md round-13 addendum sizes the envelope: ~20 GB fixture +
# ~40 GB staged extract leaves <20 GB of shuffle headroom, so the one
# output-quadratic-by-contract key runs its isolate BEFORE the extract is
# staged, against cleared disk, and the suite record runs without it,
# self-declared via SPARK_GRAFT_SKIP_KEYS → "skipped" in the JSON).
#
# Steps (run one at a time; each logs free disk):
#   1. gen      — GenData 100 /tmp/graft_sf100            (~20 GB)
#   2. srp      — qllm_srp_lsh best-of-3 isolate (stages no extract),
#                 zstd shuffle codec (x1.5 smaller transients)
#   3. stage    — StageExtract (copurchase first, disk emptiest)
#   4. isolate  — best-of-3 of the 15 other sf60-heaviest keys
#   5. suite    — full suite minus the disk-contract key
set -euo pipefail
cd /root/repo
STEP="${1:?usage: rung_sf100.sh gen|srp|stage|isolate|suite}"
SF_DIR=/tmp/graft_sf100
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JAVA_BASE="java $ADD_OPENS -Duser.timezone=UTC -Dlog4j2.configurationFile=file:$PWD/conf/log4j2.properties -cp target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
export SPARK_GRAFT_CPUS=32
export SPARK_GRAFT_SF_DIR=$SF_DIR
df -h / | tail -1
case "$STEP" in
  gen)
    $JAVA_BASE -Xmx16g graft.tools.GenData 100 $SF_DIR
    ;;
  srp)
    # cleared-disk isolate of the quadratic-contract key (--isolate stages
    # no extract; the key reads only the embeddings fixture), zstd shuffle
    $JAVA_BASE -Xmx16g -XX:G1HeapRegionSize=32m \
      -Dspark.io.compression.codec=zstd \
      graft.Bench --isolate qllm_srp_lsh
    ;;
  stage)
    # copurchase while disk is emptiest; zstd staging transients AND zstd
    # parquet output (~35% smaller staged tables — the suite's shuffle
    # headroom comes out of the same disk). Heap 48g: the sf100
    # direction-doubled adjacency write heap-OOMs a 20g JVM (round 15,
    # rung_stage.log) — staging is a one-time infra JVM, sized to the box;
    # the BENCH contract JVM stays at its own default. Do NOT raise
    # spark.memory.fraction instead: 0.75 at 64g let the bucketed-write
    # sorters grow multi-GB pointer arrays and OOM'd where default-fraction
    # 48g survived (round 15, rung_stage3.log).
    $JAVA_BASE -Xmx48g -XX:G1HeapRegionSize=32m \
      -Dspark.io.compression.codec=zstd -Dspark.sql.parquet.compression.codec=zstd \
      graft.tools.StageExtract $SF_DIR
    ;;
  isolate)
    $JAVA_BASE -Xmx16g -XX:G1HeapRegionSize=32m \
      graft.Bench --isolate qgraph_pagerank,qgraph_kcore,qgraph_jaccard,qgraph_bfs,qjoin_star,qjoin_band_auto,qagg_assoc,qagg_wquantile,qdate_busday,qwin_gapfill,qwin_pareto,qllm_dupfrac,qllm_novelty,qllm_surprisal,qllm_bigram_lm
    ;;
  suite)
    # zstd shuffle: with the staged extract resident, the box leaves only
    # ~20 GB of shuffle headroom and the round-15 lz4 staging attempt died
    # on disk — codec is part of the instrument and the record's PERF.md
    # row says so. SUITE_ONLY skips the materialized pass (it re-runs all
    # 221 queries — hours at sf100); the JSON self-declares
    # "suite_only":true. Pass CODEC=lz4 / SUITE_ONLY=0 to override.
    SPARK_GRAFT_SKIP_KEYS=qllm_srp_lsh \
      SPARK_GRAFT_SUITE_ONLY=${SUITE_ONLY:-1} \
      $JAVA_BASE -Xmx16g -XX:G1HeapRegionSize=32m \
      -Dspark.io.compression.codec=${CODEC:-zstd} \
      graft.Bench
    ;;
  *) echo "unknown step $STEP" >&2; exit 2 ;;
esac
df -h / | tail -1
