#!/bin/bash
# Run a graft main on the compiled classes without sbt (keeps the sbt
# lock free for tests). Usage: tools/jrun.sh <MainClass> [args...]
cd "$(dirname "$0")/.." || exit 1
# a bare `sbt compile` leaves the classes dir without the resources, and a
# run then cannot find the graft-lines data source
services=target/scala-2.13/classes/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
if [ ! -f "$services" ]; then
  echo "jrun.sh: $services is missing; run sbt \"Compile / copyResources\" first" >&2
  exit 1
fi
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx100g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
