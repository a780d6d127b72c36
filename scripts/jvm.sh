# Shared JVM launcher for the probe scripts; source it from the repo root:
#   . scripts/jvm.sh
#   timeout 600 "${GRAFT_JAVA[@]}" -Xmx8g graft.ProbeOne <query> <sfDir>
# GRAFT_JAVA is `java` with the module opens Spark 4 needs on JDK 17
# outside spark-submit, the G1 GCLocker retry pair (build.sbt says why)
# and the compiled classes plus Spark jars on the classpath (compile
# first: sbt compile). Session settings come from graft.GraftSession.
GRAFT_JAVA=(java -XX:+UnlockDiagnosticVMOptions
  -XX:GCLockerRetryAllocationCount=64)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JAVA+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
GRAFT_JAVA+=(-cp "target/scala-2.13/classes:/opt/spark/jars/*")
