package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.api.Messages
import graft.core.{ParquetFooters, Tables}
import graft.ingest.{FileIngest, JdbcCache, MlhdImport}

/** Driver-oracled round-trips for the ingestion + emission surfaces that
  * were previously ScalaTest-only (round-3 verdict "weak" items S4, S14 and
  * the message envelope): each query materializes the real on-disk layout
  * the operator consumes (chunk files / TSV tree), runs the operator, and
  * reduces the output to a DataFrame DuckDB can recompute from the original
  * table — so the hash verdict covers the full disk round-trip, exactly the
  * q121 recipe.
  */
object IngestQueries {

  private def tempDir(tag: String): String =
    graft.core.TempWork.dir(tag)

  // ---------------------------------------------------------------- q123
  /** Glob-filtered chunk-file scan (the MLHD per-prefix chunk layout,
    * reference mlhd/download.py:24-27, 45-52): events are laid out as one
    * flat parquet file per leading-digit chunk — `chunk_<c>.parquet`, the
    * shape the reference's downloader produces — then
    * [[FileIngest.globScan]] reads ONLY `chunk_[13].parquet` via
    * pathGlobFilter. The oracle recomputes the same aggregate from the
    * original table with the chunk rule as a predicate, so the hash match
    * proves the glob selected exactly the right files. The per-chunk write
    * loop is fixture setup (the downloader's job, bounded by the 16-chunk
    * alphabet), not the measured operator. */
  val q123GlobChunkScan = Q(
    "q123_glob_chunk_scan",
    (s, d) => {
      val work = tempDir("graft-q123")
      val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("chunk", MlhdImport.chunkOf(col("user_id")))
      // ONE partitioned write lands every chunk, then the files are
      // renamed into the downloader's flat chunk_<c>.parquet layout —
      // the q259 one-pass staging recipe. The pre-round-14 form ran one
      // filter+coalesce(1) write JOB per chunk plus a distinct+collect
      // to enumerate them: 17 executions of the events scan for a
      // 16-file fixture (guide §5: no driver loops in query paths).
      // repartition on the chunk key puts each chunk wholly in one
      // writer task → exactly one file per chunk= dir.
      ev.repartition(col("chunk")).write.partitionBy("chunk")
        .parquet(s"$work/part")
      fs.listStatus(new Path(s"$work/part"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk="))
        .foreach { cd =>
          val c = cd.getPath.getName.stripPrefix("chunk=")
          val parts = fs.listStatus(cd.getPath).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
          require(parts.length == 1,
            s"expected one staged file per chunk, got ${parts.length} " +
              s"in $cd (repartition(chunk) puts each chunk in ONE " +
              "writer task; a maxRecordsPerFile setting would split it)")
          fs.rename(parts(0), new Path(s"$work/chunk_$c.parquet"))
        }
      fs.delete(new Path(s"$work/part"), true)
      FileIngest.globScan(s, work, "chunk_[13].parquet")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
        cast(sum(user_id) AS bigint) AS sum_user
      FROM events
      WHERE substr(cast(user_id AS varchar), 1, 1) IN ('1', '3')
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q124
  /** Distributed TSV → parquet ETL with per-row provenance
    * (reference mlhd/download.py:63-106, done driver-side with pandas
    * there): events split into two TSV files by event_id parity — the
    * "one file per source unit" corpus shape — then
    * [[FileIngest.csvToParquet]] reads the whole tree distributed,
    * records `input_file_name` per row, and the result is aggregated per
    * source file. The oracle recomputes per-file counts/sums from the
    * original table via the parity rule, so the hash match proves both
    * the TSV round-trip (no row lost or mis-typed) and the provenance
    * column. */
  val q124CsvEtl = Q(
    "q124_csv_etl",
    (s, d) => {
      val work = tempDir("graft-q124")
      val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(s"$work/in"))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      // ONE partitioned write lands both parity halves (the q123/q259
      // one-pass recipe): the pre-round-14 form ran one
      // filter+coalesce(1) job per half — two serial single-task CSV
      // serializations of the full table. repartition on the parity key
      // puts each half wholly in one writer task (one file per g= dir),
      // and the two tasks serialize in parallel inside one job.
      val stage = s"$work/stage"
      ev.withColumn("g", col("event_id") % 2)
        .repartition(col("g")).write.partitionBy("g")
        .option("sep", "\t").csv(stage)
      Seq(0, 1).foreach { g =>
        val gd = new Path(s"$stage/g=$g")
        val parts = fs.listStatus(gd).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"expected one staged file per parity half, got " +
            s"${parts.length} in $gd (repartition(g) puts each half in " +
            "ONE writer task; a maxRecordsPerFile setting would split it)")
        fs.rename(parts(0), new Path(s"$work/in/g$g.tsv"))
      }
      fs.delete(new Path(stage), true)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType)))
      FileIngest.csvToParquet(s, s"$work/in", s"$work/out", schema)
      ParquetFooters.read(s, s"$work/out")
        .groupBy(regexp_extract(col("source_file"), "(g[01])\\.tsv", 1)
          .as("src"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("src"))
    },
    Some("""SELECT 'g' || cast(event_id % 2 AS varchar) AS src,
        count(*) AS n, cast(sum(user_id) AS bigint) AS sum_user,
        count(DISTINCT event_type) AS n_types
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q126
  /** Result-emission envelope (reference
    * stats/incremental/user/entity.py:64-123, message_creator.py:59-72):
    * a per-user stat is streamed through [[Messages.statsChunked]] — the
    * real `toLocalIterator`-backed chunk iterator with the couchdb
    * database bracket — and each emitted message is reduced to one summary
    * row (kind, database, envelope fields, chunk row count, first/last
    * key). The oracle recomputes the bracket + 25-row chunk boundaries
    * with window arithmetic, so the hash match pins chunk sizing, chunk
    * order, bracket placement and every envelope field. The driver-side
    * materialization is one row per MESSAGE (≤ rows/25 + 2), not per data
    * row — the streamed result itself never collects. */
  val q126StatsEnvelope = Q(
    "q126_stats_envelope",
    (s, d) => {
      val stat = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("listen_count"))
        .orderBy(col("user_id"))
      val msgs = Messages.statsChunked(
        stat, msgType = "entity_listens", statsRange = "week",
        fromTs = 100L, toTs = 200L, entity = "artists").toSeq
      val rows = msgs.zipWithIndex.map {
        case (Messages.DataStart(db), i) =>
          (i, "couchdb_data_start", db, None: Option[String], None: Option[Long],
            None: Option[Long], 0L, None: Option[Long], None: Option[Long])
        case (Messages.DataEnd(db), i) =>
          (i, "couchdb_data_end", db, None: Option[String], None: Option[Long],
            None: Option[Long], 0L, None: Option[Long], None: Option[Long])
        case (c: Messages.StatsChunk, i) =>
          (i, "chunk", c.database.getOrElse(""), Some(c.msgType),
            Some(c.fromTs), Some(c.toTs), c.rows.size.toLong,
            Some(c.rows.head.getLong(0)), Some(c.rows.last.getLong(0)))
        case (other, i) => sys.error(s"unexpected message $other at $i")
      }
      import s.implicits._
      rows.toDF("seq", "kind", "database", "msg_type", "from_ts", "to_ts",
          "n_rows", "first_user", "last_user")
        .orderBy(col("seq"))
    },
    Some("""WITH stat AS (
        SELECT user_id FROM events GROUP BY user_id),
      ranked AS (
        SELECT user_id,
          row_number() OVER (ORDER BY user_id) - 1 AS rn FROM stat),
      chunks AS (
        SELECT cast(floor(rn / 25.0) AS int) AS ci, count(*) AS n_rows,
          min(user_id) AS first_user, max(user_id) AS last_user
        FROM ranked GROUP BY 1)
      SELECT * FROM (
        SELECT 0 AS seq, 'couchdb_data_start' AS kind,
          'artists_week' AS database, cast(NULL AS varchar) AS msg_type,
          cast(NULL AS bigint) AS from_ts, cast(NULL AS bigint) AS to_ts,
          cast(0 AS bigint) AS n_rows, cast(NULL AS bigint) AS first_user,
          cast(NULL AS bigint) AS last_user
        UNION ALL
        SELECT ci + 1, 'chunk', 'artists_week', 'entity_listens',
          100, 200, n_rows, first_user, last_user FROM chunks
        UNION ALL
        SELECT (SELECT max(ci) FROM chunks) + 2, 'couchdb_data_end',
          'artists_week', NULL, NULL, NULL, 0, NULL, NULL
      ) ORDER BY seq"""))

  // ---------------------------------------------------------------- q133
  /** JDBC dimension-cache import round-trip (reference postgres/utils.py:
    * 8-17 + data/postgres/recording.py:36-67): the nation dimension is
    * loaded into an embedded Derby database (standing in for the
    * reference's postgres), re-imported through
    * [[graft.ingest.JdbcCache.importCache]] — the WHERE clause runs IN the
    * database, Spark sees only the result cursor — and the landed parquet
    * cache is joined against customers exactly the way every stats job
    * joins the reference's metadata caches. The oracle recomputes the join
    * from the original tables with the pushdown predicate inlined, so the
    * hash match proves no row or column was lost or re-typed through
    * JDBC → parquet → join. The driver-side INSERT loop is fixture setup
    * (a deployment's database content is a given), bounded by the 25-row
    * dimension; the measured operator is the import + downstream join.
    *
    * Fixture shape (round-10 local-cluster finding): Spark's JDBC source
    * opens its connection ON THE EXECUTORS, so a driver-JVM-private
    * `memory:` Derby vanishes the moment executors are real processes —
    * the original fixture passed only because local[n] executors share
    * the driver JVM. The database is therefore built on disk, shut down,
    * and packed into a Derby read-only JAR archive
    * (`jdbc:derby:jar:(file)db` — bootable by any number of JVMs, the
    * embedded-engine analogue of every executor dialing the same server),
    * which is exactly how a real deployment's JDBC endpoint behaves. */
  val q133JdbcImport = Q(
    "q133_jdbc_import",
    (s, d) => {
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val work = tempDir("graft-q133")
      val dbDir = s"$work/db"
      val conn = java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbDir;create=true")
      try {
        conn.createStatement().execute("CREATE TABLE nation_src (" +
          "n_nationkey INT, n_name VARCHAR(64), n_regionkey INT)")
        val ps = conn.prepareStatement(
          "INSERT INTO nation_src VALUES (?, ?, ?)")
        Tables.nation(s, d).collect().foreach { r =>
          ps.setInt(1, r.getInt(0))
          ps.setString(2, r.getString(1))
          ps.setInt(3, r.getInt(2))
          ps.addBatch()
        }
        ps.executeBatch()
      } finally conn.close()
      // clean shutdown (flushes the log), then pack into a read-only
      // archive every executor JVM can boot independently
      try java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbDir;shutdown=true")
      catch { case _: java.sql.SQLException => () } // success == exception
      val jar = s"$work/nation-db.jar"
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(jar))
      val root = java.nio.file.Paths.get(dbDir)
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.endsWith(".lck"))
        .forEach { p =>
          zos.putNextEntry(new java.util.zip.ZipEntry(
            "db/" + root.relativize(p).toString.replace('\\', '/')))
          java.nio.file.Files.copy(p, zos)
          zos.closeEntry()
        }
      finally { walk.close(); zos.close() }
      val url = s"jdbc:derby:jar:($jar)db"

      val cachePath = s"$work/nation-cache"
      JdbcCache.importCache(s, JdbcCache.JdbcConfig(url, "", ""),
        // pushdown: projection + filter run in the database
        "SELECT n_nationkey, n_name FROM nation_src WHERE n_regionkey <> 0",
        cachePath)

      val raw = JdbcCache.readCache(s, cachePath)
      val cached = raw.toDF(raw.columns.map(_.toLowerCase).toIndexedSeq: _*)
      Tables.customer(s, d)
        .join(cached, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_custkey")).as("sum_cust"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, count(*) AS n_customers,
        cast(sum(c_custkey) AS bigint) AS sum_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_regionkey <> 0
      GROUP BY 1 ORDER BY 1"""))

  def all: Seq[Q] =
    Seq(q123GlobChunkScan, q124CsvEtl, q126StatsEnvelope, q133JdbcImport,
      q243OrcRoundtrip)

  // ---------------------------------------------------------------- q243
  /** ORC interchange round-trip: the events slice written as
    * partitioned ORC (Spark's built-in columnar alternative — the
    * format a warehouse-side consumer would hand us), read back with
    * a partition-pruning type filter plus a pushable user-id range,
    * and reduced. The hash verdict covers the full disk round-trip:
    * ORC writer → directory-partition layout → ORC vectorized reader
    * with predicate pushdown → aggregate. Scale shape: identical to
    * the parquet path — the partition filter prunes directories
    * before any I/O, the range filter rides the ORC stripe stats. */
  val q243OrcRoundtrip = Q(
    "q243_orc_roundtrip",
    (s, d) => {
      val work = tempDir("graft-q243")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").partitionBy("event_type")
        .orc(s"$work/orc")
      s.read.orc(s"$work/orc")
        .filter(col("event_type").isin("click", "purchase") &&
          col("user_id") % 3 =!= 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("cast(round(value * 100) as bigint)")).as("value_cents"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
        count(DISTINCT user_id) AS n_users,
        cast(sum(cast(round(value * 100) AS bigint)) AS bigint)
          AS value_cents
      FROM events
      WHERE event_type IN ('click', 'purchase') AND user_id % 3 <> 0
      GROUP BY event_type ORDER BY event_type"""))
}
