#!/bin/bash
# Direct-JVM runner for the driver-contract mains — bypasses sbt (no
# project lock, no startup cost) but applies the SAME --add-opens set
# as build.sbt / spark-submit. Without these, JDK 17 module
# encapsulation breaks Kryo broadcast serialization and every ML-lib
# query (KMeans/Word2Vec/IVF) fails with "Unable to create serializer
# ... java.nio.HeapByteBuffer".
#
# Usage: scripts/jrun.sh graft.Verify /root/testdata/sf0.01 /tmp/vout [subset]
set -euo pipefail
DIR="$(cd "$(dirname "$0")/.." && pwd)"
CP="$DIR/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
FLAGS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra -D flags, e.g. for the streaming suite's RocksDB A/B:
# -Dspark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
# (UI off and the UTC session time zone come from graft.Sessions.)
exec java -cp "$CP" $FLAGS ${GRAFT_JAVA_OPTS:-} \
  "-Xmx${SPARK_DRIVER_MEM:-16g}" "$@"
