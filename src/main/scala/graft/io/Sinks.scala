package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Writers and the set-based upsert.
  *
  * The reference's load strategies (reference: src/load.py:265-486) are
  * insert / replace / upsert against a SQL store; upsert iterates rows
  * and issues one statement per row (reference: src/load.py:386,448).
  * Here every strategy is a single distributed write, and upsert is a
  * set-based merge — the largest designed perf divergence from the
  * reference (O(1) jobs instead of O(n) round trips).
  */
object Sinks {

  /** sink_csv (reference: src/transform.py:324-325). */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** sink_json (reference: src/transform.py:326-327). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** sink_parquet (reference: src/transform.py:328-329). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** sink_jdbc_insert analogue — append (reference: src/load.py:319-343).
    * Partition by date so downstream date-ranged reads prune files —
    * the Spark replacement for the reference's b-tree indexes
    * (reference: sql/schema.sql:71-77).
    */
  def append(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** sink_jdbc_replace analogue — overwrite (reference: src/load.py:345-369). */
  def replace(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Dynamic partition overwrite — the idempotent daily-rerun write.
    * The reference's replace strategy drops and rewrites the WHOLE
    * table (reference: src/load.py:345-369); at 100 TB a rerun of one
    * day must replace exactly the partitions present in the incoming
    * batch and leave every other partition's files untouched. The
    * `partitionOverwriteMode=dynamic` WRITE OPTION scopes the behavior
    * to this writer (no session-conf mutation leaking into concurrent
    * static-overwrite writers); Spark stages the new files and swaps
    * only the touched partition directories at commit, so a failed job
    * leaves the old partitions readable.
    */
  def overwriteDynamic(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "dynamic overwrite without partition columns would truncate the table; " +
        "use replace() when full-table overwrite is intended")
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Schema-evolving append — the add-a-column path a long-lived table
    * needs (the reference evolves its schema by DDL,
    * src/load.py:80-263; a parquet table evolves by writing files with
    * the wider schema and merging on read). The batch must carry a
    * SUPERSET of the standing schema:
    *
    *  - brand-new columns are fine — old files simply lack them and
    *    read back NULL under [[readEvolved]];
    *  - a MISSING standing column is refused (an accidentally-pruned
    *    batch would silently poison every later merged read with
    *    NULLs);
    *  - a changed dataType for an existing column is refused —
    *    parquet's merge cannot reconcile it and readers would throw
    *    (or worse, widen lossily) long after the write succeeded.
    *    Failing the WRITE is the honest place to fail.
    */
  def appendEvolved(spark: org.apache.spark.sql.SparkSession,
                    df: DataFrame, path: String,
                    partitionCols: Seq[String] = Nil): Unit = {
    // an append is an existence-dependent write: restore a
    // rewriteInPlace-crashed table first, or this would fork it and a
    // later rewrite would delete the stranded original
    graft.ops.Layout.restoreIfCrashed(spark, path)
    // same hazard one level down for PARTITIONED tables maintained by
    // compactPartitioned: a crash mid-swap strands a partition in its
    // trash sibling with the directory absent, and a mode-append would
    // recreate the dir with only this batch's rows — the next
    // compaction's recovery would then delete the stranded originals
    // as superseded (Compaction.repairPartitioned's contract)
    graft.ops.Compaction.repairPartitioned(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      // the table's REAL partition columns come from its directory
      // layout, never from the argument — and the argument must agree,
      // or the append would write a conflicting `col=value` hierarchy
      // that breaks every later read
      val actualParts = actualPartitionCols(fs, root)
      require(actualParts == partitionCols,
        s"appendEvolved: table is partitioned by " +
          s"${actualParts.mkString("(", ",", ")")} but the batch declares " +
          s"${partitionCols.mkString("(", ",", ")")} — layouts would conflict")
      // union of every file footer, not one file's — earlier appends
      // may already have widened the schema
      val standing = spark.read.option("mergeSchema", "true").parquet(path).schema
      val incoming = df.schema.map(f => f.name -> f.dataType).toMap
      // partition columns round-trip through DIRECTORY NAMES, and the
      // read-side inference types them from the string (a "2023-11-01"
      // dir comes back DATE even if written from a string column) —
      // type equality is only meaningful for data columns; presence is
      // still required for all
      val partSet = actualParts.toSet
      val problems = standing.flatMap { f =>
        incoming.get(f.name) match {
          case None => Some(s"${f.name}: missing from batch")
          case Some(t) if t != f.dataType && !partSet.contains(f.name) =>
            Some(s"${f.name}: ${f.dataType.simpleString} -> ${t.simpleString}")
          case _ => None
        }
      }
      require(problems.isEmpty,
        s"appendEvolved: batch schema is not a same-typed superset of the " +
          s"standing table: ${problems.mkString("; ")}")
    }
    append(df, path, partitionCols)
  }

  /** The partition columns a table ACTUALLY has, read from its
    * directory layout (first `col=value` entry per nesting level;
    * driver-side listing only). Empty for an unpartitioned table.
    */
  private def actualPartitionCols(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path): Seq[String] = {
    def walk(dir: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(dir).find(s => s.isDirectory &&
        s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".")) match {
        case Some(s) =>
          s.getPath.getName.split("=", 2)(0) +: walk(s.getPath)
        case None => Nil
      }
    walk(root)
  }

  /** Read a table whose files span schema versions: mergeSchema folds
    * every footer into the union schema, and rows from files written
    * before a column existed surface it as NULL.
    */
  def readEvolved(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** sink_upsert — set-based merge with update-wins semantics on the
    * unique key (reference: src/load.py:371-486; key from
    * sql/schema.sql:38 UNIQUE(city,country,timestamp)).
    *
    * result = dedup(updates) ∪ (existing ⟕anti updates-keys)
    *
    * Both sides shuffle once on the key; at scale the anti join is a
    * plain shuffled hash join and there are no per-row round trips.
    * Updates may contain several rows per key; the winner is chosen by
    * a deterministic total order (`updatePriority` descending, then the
    * key) — never `dropDuplicates`, whose winner is shuffle-dependent.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String],
             updatePriority: Seq[String] = Nil): DataFrame = {
    val dedupedUpdates = firstPerKey(updates, keys, updatePriority)
      // auxiliary columns (e.g. priority) don't survive into the target
      .select(existing.columns.toIndexedSeq.map(col): _*)
    existing
      .join(dedupedUpdates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(dedupedUpdates)
  }

  /** [[upsert]]'s in-batch winner per key: the first row under
    * `updatePriority` descending, then the key. */
  private def firstPerKey(updates: DataFrame, keys: Seq[String],
                          updatePriority: Seq[String]): DataFrame = {
    val ord = (updatePriority.map(c => col(c).desc) ++ keys.map(col(_).asc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** ddl_create analogue (reference: src/load.py:80-263,
    * sql/schema.sql:9-77): register a parquet-backed table in the
    * session catalog. The reference's b-tree indexes have no Spark
    * equivalent — date partitioning on write (see [[append]]) plus
    * parquet min/max pruning replace them.
    */
  def registerTable(spark: org.apache.spark.sql.SparkSession,
                    name: String, path: String): Unit =
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$path'")

  /** sink_metrics / sink_history (reference: src/load.py:488-554):
    * single-row audit appends, with the full metrics map serialized to
    * JSON exactly like the reference's metrics_json column.
    */
  def appendMetrics(metrics: DataFrame, path: String): Unit = {
    val withJson = metrics.withColumn("metrics_json",
      org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(metrics.columns.toIndexedSeq.map(col): _*)))
    append(withJson, path)
  }

  /** Strategy dispatch (reference: src/load.py:265-317). For
    * "upsert" the existing table is read, merged, and rewritten —
    * the plain-Parquet equivalent of MERGE INTO (a transactional table
    * format would replace the rewrite with a row-level merge).
    *
    * The merge is written through [[graft.ops.Layout.rewriteInPlace]]:
    * the new table is fully staged to a hidden temp sibling WHILE the
    * source files are still intact (so the plan needs no
    * materialization barrier at all), then swapped in with two
    * metadata renames. This is strictly stronger than the earlier
    * eager-localCheckpoint-then-overwrite: a checkpoint only truncates
    * lineage (blocks live on executors — an executor loss mid-
    * overwrite still lost the table), whereas the staged swap keeps
    * the original bytes on disk until the replacement is complete.
    */
  def load(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
           path: String, strategy: String, keys: Seq[String] = Nil,
           updatePriority: Seq[String] = Nil): Unit =
    strategy match {
      case "insert"  => append(df, path)
      case "replace" => replace(df, path)
      case "upsert" =>
        // a crash between rewriteInPlace's two renames leaves the table
        // stranded in its trash sibling with the target ABSENT — the
        // restore must run before the first-batch existence check, or
        // this branch would overwrite the crash state with only the new
        // batch and a later rewrite would delete the stranded original
        graft.ops.Layout.restoreIfCrashed(spark, path)
        // existence via the table's OWN FileSystem: java.io.File answers
        // for the local disk only and would route every non-local-FS
        // upsert into the first-batch replace — total silent data loss
        val p = new org.apache.hadoop.fs.Path(path)
        val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!pfs.exists(p))
          // first batch still dedups by key (a batch may carry several
          // rows per key); merging against an empty target does exactly
          // the in-batch winner selection
          replace(upsert(df.limit(0), df, keys, updatePriority), path)
        else
          graft.ops.Layout.rewriteInPlace(spark, path) { tmp =>
            upsert(spark.read.parquet(path), df, keys, updatePriority)
              .write.mode(SaveMode.Overwrite).parquet(tmp)
          }
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }

  /** True JDBC load strategies against a SQL store — parity with the
    * reference's PostgreSQL writer (reference: src/load.py:265-486),
    * demonstrated in tests against embedded Derby:
    *
    *  - insert  → transactional batched INSERTs, appended
    *    (reference: src/load.py:319-343)
    *  - replace → drop/recreate then insert
    *    (reference: src/load.py:345-369)
    *  - upsert  → set-based merge: read the target, [[upsert]], rewrite —
    *    one read + one write instead of the reference's per-row
    *    ON CONFLICT round trips (reference: src/load.py:371-486)
    *
    * The merged result crosses an eager localCheckpoint barrier before
    * the overwrite, so the rewrite holds no lineage on the table it is
    * about to truncate (a lazy JDBC read re-executed mid-overwrite
    * would see a half-written table).
    *
    * Writes distribute: each partition opens its own connection and
    * issues batched inserts — `df.write.jdbc` fans out across
    * executors, no driver bottleneck.
    */
  def jdbc(df: DataFrame, url: String, table: String, strategy: String,
           keys: Seq[String] = Nil,
           props: java.util.Properties = new java.util.Properties,
           columnTypes: Option[String] = None): Unit = {
    // explicit DDL types on create (reference: sql/schema.sql:9-39 uses
    // VARCHAR(100)); without them some dialects (Derby) map StringType
    // to CLOB, which cannot be compared in pushed-down predicates
    def write(d: DataFrame, mode: SaveMode): Unit = {
      val w = d.write.mode(mode)
      columnTypes.foreach(t => w.option("createTableColumnTypes", t))
      w.jdbc(url, table, props)
    }
    strategy match {
      case "insert"  => write(df, SaveMode.Append)
      case "replace" => write(df, SaveMode.Overwrite)
      case "upsert" =>
        // table existence is decided by JDBC METADATA, never by
        // catching read failures: a transient read error (timeout,
        // auth blip) against an existing table must propagate, not
        // fall through to an Overwrite that drops every existing row
        if (!jdbcTableExists(url, table, props)) write(df, SaveMode.Overwrite)
        else {
          val ex = df.sparkSession.read.jdbc(url, table, props)
          val merged =
            upsert(ex.select(df.columns.map(col).toIndexedSeq: _*), df, keys)
              .localCheckpoint(true)
          write(merged, SaveMode.Overwrite)
        }
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }
  }

  /** The PostgreSQL-native upsert statement: INSERT ... ON CONFLICT
    * (keys) DO UPDATE SET col = EXCLUDED.col — the dialect path the
    * reference drives one row and one round trip at a time
    * (reference: src/load.py:403-427, its ON CONFLICT statement for
    * weather_data on the (city, country, timestamp) unique key). Here
    * the statement is GENERATED from (columns, keys, updateCols) and
    * meant to be prepared once per executor partition and streamed
    * through in batches ([[jdbcWriteBatched]]) — same SQL, one
    * statement per partition instead of per row. Parameter style is
    * JDBC positional (?), the prepared-statement form.
    *
    * PgDialectSpec pins the generated text against the reference's
    * statement AND executes it on an embedded PostgreSQL 15 server
    * (insert + conflict-update semantics verified on the real
    * dialect); the no-driver sandbox keeps the Spark JDBC round trip
    * itself on Derby (JdbcSinksSpec).
    */
  def pgUpsertSql(table: String, columns: Seq[String], keys: Seq[String],
                  updateCols: Seq[String]): String = {
    require(keys.nonEmpty, "ON CONFLICT requires at least one key column")
    require(keys.forall(columns.contains),
      s"keys must be inserted columns: ${keys.filterNot(columns.contains)}")
    require(updateCols.forall(columns.contains),
      s"update columns must be inserted columns: ${updateCols.filterNot(columns.contains)}")
    require(updateCols.forall(!keys.contains(_)),
      "conflict keys cannot be DO UPDATE targets")
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET " +
      updateCols.map(c => s"$c = EXCLUDED.$c").mkString(", ")
  }

  /** The SQLite-native upsert statement: REPLACE INTO — the
    * reference's OTHER deployment dialect (reference:
    * src/load.py:441-486, `_load_upsert_sqlite`'s REPLACE statement
    * for weather_data), generated from the column list with JDBC
    * positional (?) params instead of SQLAlchemy's named params, for
    * the same prepare-once-per-partition batched path
    * ([[jdbcWriteBatched]]) as [[pgUpsertSql]].
    *
    * REPLACE INTO is NOT ON CONFLICT DO UPDATE: the conflict key is
    * whatever UNIQUE constraint the table declares (no key list in
    * the statement — the reference's schema.sql puts it on
    * (city, country, timestamp)), and a conflicting row is DELETED
    * and re-inserted whole, so any column absent from the column
    * list resets to its default rather than surviving the update.
    * With the reference's full 26-column list the two dialects
    * converge on the same final rows — SqliteDialectSpec pins the
    * generated text against the reference statement and executes
    * insert-then-replace on a real SQLite database.
    */
  def sqliteUpsertSql(table: String, columns: Seq[String]): String = {
    require(columns.nonEmpty, "REPLACE INTO requires at least one column")
    require(columns.distinct == columns,
      s"duplicate columns: ${columns.diff(columns.distinct)}")
    s"REPLACE INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"
  }

  /** Executor-side batched parameterized DML: each partition opens ONE
    * connection, prepares `sql` once, and streams its rows through
    * addBatch/executeBatch in `batchSize` chunks — the shape a
    * native-dialect statement (e.g. [[pgUpsertSql]]) runs at scale:
    * writes fan out across executors, round trips amortize over the
    * batch, and the driver never touches a row. Contrast with the
    * reference's one-execute-per-row loop (src/load.py:385-421).
    * Parameters bind positionally from the DataFrame's column order;
    * NULLs bind through the schema's SQL type.
    *
    * RETRY CONTRACT: `sql` must be IDEMPOTENT per row (an upsert such
    * as [[pgUpsertSql]], or REPLACE INTO via [[sqliteUpsertSql]]).
    * Each partition commits independently, and Spark re-runs a task
    * whose executor dies AFTER conn.commit() but BEFORE the task
    * reports success — a plain INSERT would then re-insert every row
    * of the retried partition (duplicates, or a key violation that
    * fails the whole retry). Exactly-once for non-idempotent DML
    * needs a transactional sink protocol (per-partition epoch
    * markers) that plain JDBC does not give you; keyed upserts get
    * effective exactly-once for free because the retry overwrites the
    * same keys with the same values. Plain INSERT is acceptable only
    * against a scratch/staging table that the caller truncates or
    * replaces on failure (the JdbcSinksSpec round trip runs in that
    * mode).
    */
  def jdbcWriteBatched(df: DataFrame, url: String, sql: String,
                       props: java.util.Properties = new java.util.Properties,
                       batchSize: Int = 500): Unit = {
    import org.apache.spark.sql.types._
    val schema = df.schema
    def sqlType(dt: DataType): Int = dt match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case ShortType => java.sql.Types.SMALLINT
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.FLOAT
      case BooleanType => java.sql.Types.BOOLEAN
      case TimestampType => java.sql.Types.TIMESTAMP
      case DateType => java.sql.Types.DATE
      case _: DecimalType => java.sql.Types.DECIMAL
      case BinaryType => java.sql.Types.BINARY
      case _ => java.sql.Types.VARCHAR
    }
    val types = schema.fields.map(f => sqlType(f.dataType))
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val st = conn.prepareStatement(sql)
          try {
            var n = 0
            while (rows.hasNext) {
              val r = rows.next()
              var i = 0
              while (i < types.length) {
                val v = r.get(i)
                if (v == null) st.setNull(i + 1, types(i))
                else st.setObject(i + 1, v)
                i += 1
              }
              st.addBatch()
              n += 1
              if (n % batchSize == 0) st.executeBatch()
            }
            st.executeBatch()
            conn.commit()
          } finally st.close()
        } finally conn.close()
      }
    }
  }

  /** Table-existence probe via JDBC metadata. Unquoted identifiers are
    * case-folded dialect-specifically (Derby/Oracle upper, Postgres
    * lower), so all three spellings are checked. Connection failures
    * propagate — the caller must not mistake "cannot reach the store"
    * for "table absent".
    *
    * getTables treats its name arguments as LIKE patterns, so '_'/'%'
    * in the real table name over-match — "weather_data" would report
    * present when only a sibling "weatherXdata" exists, and the first
    * upsert batch would then try to read a missing table. Escaping via
    * getSearchStringEscape is not portable (Derby returns the empty
    * string), so instead the pattern is allowed to over-match and each
    * returned row's TABLE_NAME / TABLE_SCHEM is compared for EXACT
    * equality against the probed spellings. A 'schema.table' qualified
    * name is split and the schema half passed as the schemaPattern
    * argument — passed whole it would never match TABLE_NAME, the
    * upsert would think the table absent, and SaveMode.Overwrite would
    * drop every existing row.
    */
  private def jdbcTableExists(url: String, table: String,
                              props: java.util.Properties): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val meta = conn.getMetaData
      val (schemaOpt, bare) = table.lastIndexOf('.') match {
        case -1 => (None, table)
        case i  => (Some(table.substring(0, i)), table.substring(i + 1))
      }
      def spellings(s: String) = Set(s, s.toUpperCase, s.toLowerCase)
      val tableNames = spellings(bare)
      val schemaNames = schemaOpt.map(spellings)
      def anyExact(schemaPattern: String, tablePattern: String): Boolean = {
        val rs = meta.getTables(null, schemaPattern, tablePattern, null)
        try {
          var found = false
          while (!found && rs.next()) {
            val n = rs.getString("TABLE_NAME")
            val s = Option(rs.getString("TABLE_SCHEM"))
            found = tableNames.contains(n) &&
              schemaNames.forall(sn => s.exists(sn.contains))
          }
          found
        } finally rs.close()
      }
      tableNames.exists(t =>
        schemaNames.map(_.exists(sc => anyExact(sc, t)))
          .getOrElse(anyExact(null, t)))
    } finally conn.close()
  }

  /** Partition-pruned upsert: the 100-TB form of the merge. The target
    * is parquet partitioned on `partitionCol` (a low-cardinality column
    * like the event date); an incoming batch
    *
    *  1. lists the partition values it touches (partition METADATA —
    *     bounded by distinct dates in the batch, never data-scale),
    *  2. reads ONLY those partitions of the target (partition pruning —
    *     `.explain` shows PartitionFilters on the scan),
    *  3. merges with [[upsert]] and stages the merged result under the
    *     hidden stage sibling (the target's files stay intact
    *     throughout the write — no materialization barrier needed),
    *  4. commits via the txn marker and swaps exactly the staged
    *     partitions into place, leaving every other partition's files
    *     untouched.
    *
    * A daily batch into a years-deep table therefore rewrites one or
    * two date directories, not the table — the reference's
    * touch-only-matched-keys semantics (reference: src/load.py:371-486)
    * at file-system granularity.
    *
    * DURABILITY (all-or-nothing across the touched partitions): the
    * merge is staged COMPLETELY under a hidden `.graft-upsert-stage`
    * sibling first, then a txn marker file naming every staged
    * partition is created, then each partition is swapped in with two
    * metadata renames (the [[graft.ops.Compaction.compactPartitioned]]
    * discipline). The marker is the commit point: a crash BEFORE it
    * leaves the target byte-identical (the stage is discarded on the
    * next run), a crash AFTER it is rolled FORWARD by
    * [[repairPartitionedUpsert]] — every staged partition is already
    * fully written, so recovery finishes the remaining swaps and the
    * table lands all-new, never a mixed old/new blend. Readers racing
    * an individual swap can see that partition briefly absent (plain
    * parquet has no snapshot isolation) — run upserts when the
    * partition isn't being queried, as with any non-transactional
    * format. SINGLE WRITER assumed: two concurrent upserts to one
    * table race on the shared stage directory and txn marker —
    * serialize batches per table (the reference's daily-DAG shape) or
    * front with a lock.
    *
    * CONTRACT: `partitionCol` must be functionally determined by
    * `keys` (it usually IS one of the keys, e.g. the event date in a
    * (city, date) key). Pruning reads only the touched partitions, so
    * if a key could change its partition value between batches, the
    * stale row in the now-untouched partition would silently survive
    * as a duplicate. The in-batch side of the contract is always
    * enforced (cheap — one aggregate over the batch); set
    * `strictKeyPartition` to also detect cross-batch partition moves
    * against the existing target (a column-pruned scan of the
    * target's key columns — opt-in, since it reads key columns of
    * every partition).
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
                        updates: DataFrame, path: String, keys: Seq[String],
                        partitionCol: String,
                        updatePriority: Seq[String] = Nil,
                        strictKeyPartition: Boolean = false): Unit = {
    // derive the batch ONCE: the contract checks, the touched-partition
    // list and the merge write all read this, so a lazy input (a
    // transform over a live source) is evaluated once and every step
    // sees the same rows. Bounded by the batch itself.
    val batch = materialized(updates)
    val spread = partitionSpread(batch, keys, partitionCol)
    // the batch deduped by key, derived once for the whole merge: the
    // batch itself when every key has one row (a transformed batch
    // does), else ONE window pass into a checkpoint
    lazy val winners =
      if (!spread.dupKeys) batch
      else firstPerKey(batch, keys, updatePriority).localCheckpoint()
    if (!keys.contains(partitionCol)) {
      require(!spread.keyMoves,
        s"upsertPartitioned: a key maps to multiple '$partitionCol' values " +
          s"within this batch — '$partitionCol' must be functionally " +
          s"determined by keys ${keys.mkString("(", ",", ")")}")
    }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      // a committed-but-unfinished retention drop must complete BEFORE
      // a new batch lands: otherwise the merge could write fresh rows
      // into a doomed partition that the roll-forward then drops
      repairRetention(spark, path)
      repairPartitionedUpsert(spark, path)
      // the upsert repair covers only this protocol's own txn state;
      // a table ALSO maintained by compactPartitioned can be stranded
      // in ITS trash discipline (partition dir absent, data in
      // .graft-compact-old) — the pruned read below would then miss
      // the partition and the swap would bury the stranded originals
      graft.ops.Compaction.repairPartitioned(spark, path)
    }
    // existence via the table's OWN FileSystem (java.io.File answers
    // for local disk only — a non-local-FS table would take the
    // first-batch branch every time and lose its history)
    val targetExists = fs.exists(root)
    if (strictKeyPartition && !keys.contains(partitionCol) && targetExists) {
      val cols = (keys :+ partitionCol).map(col)
      val moved = spark.read.parquet(path).select(cols: _*)
        .withColumnRenamed(partitionCol, "__oldp")
        .join(batch.select(cols: _*), keys)
        .filter(col("__oldp") =!= col(partitionCol)).limit(1).count()
      require(moved == 0,
        s"upsertPartitioned: an update changes a key's '$partitionCol' " +
          "value — merging would leave the stale row alive in its old " +
          "partition; rewrite both partitions explicitly instead")
    }
    // co-locate each partition's rows before writing: without this,
    // every one of the N shuffle tasks opens a file in every touched
    // date dir (N × dates small files per batch — the fragmentation
    // Compaction exists to undo). One shuffle on the partition value;
    // at scale pair with spark.sql.files.maxRecordsPerFile so a huge
    // single date still splits.
    def partitioned(df: DataFrame): DataFrame =
      df.repartition(col(partitionCol))
    if (!targetExists) {
      // the first batch writes the same per-key winners a merge would
      partitioned(winners)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(path)
      Manifest.commit(spark, path)
    } else {
      val touched = spread.values
      // a NULL partition value would silently lose data: isInCollection
      // never matches NULL, so the existing null-partition rows would
      // be excluded from the merge while the stage swap still replaces
      // the d=__HIVE_DEFAULT_PARTITION__ directory. Refuse loudly.
      require(!touched.contains(null),
        s"upsertPartitioned: batch contains NULL '$partitionCol' values — " +
          "fill or drop them before merging (NULL partitions cannot be " +
          "pruned-read consistently)")
      // an empty batch touches nothing: skip the scan, the stage write,
      // and the whole marker/swap state machine
      if (touched.isEmpty) return
      val existing = spark.read.parquet(path)
        .filter(col(partitionCol).isInCollection(touched))
        // partition col is read back last — realign to the update schema
        .select(batch.columns.map(col).toIndexedSeq: _*)
      // no materialization barrier needed on the target: the stage
      // write reads its partitions while they are still fully intact —
      // the target is only touched by the post-write metadata renames
      val merged = existing.join(spread.perKey.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(winners)
      // stage the ENTIRE merge first (crash here: target untouched,
      // stage discarded next run), then commit via the txn marker
      val stage = new org.apache.hadoop.fs.Path(root, UpsertStageName)
      fs.delete(stage, true)
      partitioned(merged).write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(stage.toString)
      commitStagedPartitions(spark, fs, root, stage, path)
    }
  }

  /** `df` itself when it is already materialized (a checkpoint, or
    * rows held in the plan), else its eager local checkpoint. Also
    * the result rule of [[TempScope.perCall]].
    */
  private[graft] def materialized[R](df: Dataset[R]): Dataset[R] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed => df
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
      case _ => df.localCheckpoint()
    }

  /** What a batch says about its keys and partition column: one
    * materialized row per key, the distinct partition values it touches
    * (NULL included), whether some key spans several non-NULL values,
    * and whether some key has more than one row.
    */
  private final case class PartitionSpread(perKey: DataFrame, values: Array[Any],
                                           keyMoves: Boolean, dupKeys: Boolean)

  /** [[upsertPartitioned]]'s key-grouped pass: one checkpointed row per
    * key of the batch, with the rest of its [[PartitionSpread]]
    * observed on the same pass. Per key it takes the
    * row count, the least and greatest partition value and whether any
    * is NULL (least != greatest is exactly "more than one distinct
    * non-NULL value"); the observed set of least values is bounded by
    * the distinct partition values of the batch.
    */
  private def partitionSpread(batch: DataFrame, keys: Seq[String],
                              partitionCol: String): PartitionSpread = {
    val p = col(partitionCol)
    val obs = new Observation()
    val perKey = batch.groupBy(keys.map(col): _*)
      .agg(min(p).as("__lo"), max(p).as("__hi"), max(p.isNull).as("__null"),
        count(lit(1)).as("__n"))
      .observe(obs, max(coalesce(col("__lo") =!= col("__hi"), lit(false))).as("moves"),
        max(col("__null")).as("anyNull"), max(col("__n")).as("n"),
        collect_set(col("__lo")).as("values"))
      .localCheckpoint()
    // over an empty batch every max is NULL and the set is empty
    val m = obs.get
    def flag(name: String) = m(name) == true
    val values = m("values").asInstanceOf[Seq[Any]] ++
      (if (flag("anyNull")) Seq(null) else Nil)
    PartitionSpread(perKey, values.toArray, flag("moves"),
      Option(m("n")).exists(_.asInstanceOf[Long] > 1))
  }

  /** The commit half of the staged-partition protocol, shared by
    * [[upsertPartitioned]] and [[deleteKeysPartitioned]]: list the
    * fully-written staged partitions, create the txn marker
    * (write-then-rename, so a half-written marker is never read as
    * one — from that instant the change is durable and any crash rolls
    * forward via [[repairPartitionedUpsert]]), swap each staged
    * partition into place retaining the superseded contents in their
    * hidden trash siblings (so a Manifest reader pinned to the
    * previous snapshot survives the whole swap — one-version
    * retention, swept by the next repair pass), then clean up and
    * commit a fresh manifest version.
    */
  private def commitStagedPartitions(spark: org.apache.spark.sql.SparkSession,
                                     fs: org.apache.hadoop.fs.FileSystem,
                                     root: org.apache.hadoop.fs.Path,
                                     stage: org.apache.hadoop.fs.Path,
                                     path: String): Unit = {
    val staged = fs.listStatus(stage)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName).sorted
    val marker = new org.apache.hadoop.fs.Path(root, UpsertTxnName)
    val markerTmp = new org.apache.hadoop.fs.Path(root, UpsertTxnName + ".tmp")
    val out = fs.create(markerTmp, true)
    try out.write(staged.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(markerTmp, marker),
      s"upsertPartitioned: txn marker commit $markerTmp -> $marker failed")
    staged.foreach(swapStagedPartition(fs, root, stage, _, retainTrash = true))
    fs.delete(stage, true)
    fs.delete(marker, false)
    Manifest.commit(spark, path)
  }

  /** Targeted key purge — the right-to-be-forgotten maintenance shape:
    * delete every row whose `keys` match a (small) doomed-key list
    * from a `partitionCol`-partitioned table, rewriting ONLY the
    * partitions that actually hold matching rows. Unlike
    * [[upsertPartitioned]] the keys need not be unique and need not
    * determine the partition — a user's events span years of date
    * partitions, so the touched-partition set comes from a PROBE, not
    * from the batch:
    *
    *  1. probe: a column-pruned scan of (keys, partitionCol) semi-
    *     joined to the doomed list (broadcast while its measured count
    *     stays bounded — [[graft.ops.Dedup.boundedBroadcast]]) finds
    *     the partitions holding doomed rows; at 100 TB this reads two
    *     thin columns of the table, never the payload;
    *  2. rewrite: ONLY those partitions are read in full, anti-joined
    *     against the doomed keys, and staged — a purge of one user
    *     from a years-deep table rewrites the handful of directories
    *     that user appears in;
    *  3. a partition whose EVERY row died is staged as an explicit
    *     0-row parquet directory, so the uniform marker/swap protocol
    *     still replaces (empties) it — without this the staged write
    *     would simply omit the directory and the doomed rows would
    *     silently survive;
    *  4. commit is the same all-or-nothing txn-marker + rename-swap
    *     as the upsert — a crash before the marker leaves the table
    *     byte-identical, after it rolls forward; pinned snapshot
    *     readers resolve superseded files through the retained trash
    *     siblings until the next repair sweep.
    *
    * Same single-writer assumption as [[upsertPartitioned]] (shared
    * stage/marker names — the two ops serialize per table).
    */
  def deleteKeysPartitioned(spark: org.apache.spark.sql.SparkSession,
                            doomed: DataFrame, path: String,
                            keys: Seq[String], partitionCol: String): Unit = {
    require(keys.nonEmpty, "deleteKeysPartitioned: at least one key column")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"deleteKeysPartitioned: target $path does not exist")
    repairRetention(spark, path)
    repairPartitionedUpsert(spark, path)
    graft.ops.Compaction.repairPartitioned(spark, path)
    // distinct + bounded-broadcast: the doomed list is small by
    // contract (a deletion request), but above the measured bound the
    // joins degrade to AQE-planned shuffles instead of an OOM
    val doomedKeys = graft.ops.Dedup.boundedBroadcast(
      doomed.select(keys.map(col): _*).distinct())
    // a NULL in any key column never matches an equi-join: the entry
    // would silently delete NOTHING — for an erasure op, refuse rather
    // than quietly under-delete (the caller's list is malformed)
    require(doomedKeys
        .filter(keys.map(c => col(c).isNull).reduce(_ || _))
        .head(1).isEmpty,
      "deleteKeysPartitioned: doomed key list contains NULLs, which " +
        "match no rows — clean the list (an erasure request that " +
        "silently deletes nothing is worse than failing)")
    // the probe pairs each touched partition VALUE (for the pruned
    // re-read) with its directory NAME taken from the scan's own file
    // paths — never re-encoded driver-side, so Hive escaping and
    // type-formatting rules can't drift from what the writer produced
    val probe = spark.read.parquet(path)
      .select((keys :+ partitionCol).map(col) :+
        regexp_extract(input_file_name(), "/([^/]+=[^/]*)/[^/]*$", 1)
          .as("__pn"): _*)
      .join(doomedKeys, keys, "left_semi")
      .select(col(partitionCol).as("__pv"), col("__pn"))
      .distinct().collect()
    if (probe.isEmpty) return // nothing matches — table untouched
    val touchedVals = probe.map(_.get(0)).toIndexedSeq
    require(!touchedVals.contains(null),
      s"deleteKeysPartitioned: doomed rows live in the NULL " +
        s"'$partitionCol' partition, which cannot be pruned-read " +
        "consistently — rewrite it explicitly instead")
    // input_file_name() yields a URI string: the directory segment is
    // percent-ENCODED on top of the writer's Hive escaping (space →
    // %20, the '%' of a Hive %XX → %25). One percent-decode recovers
    // the exact on-disk name; comparing the raw URI form against
    // fs.listStatus names would miss every partition whose value
    // needed escaping, staging a fully-purged partition under a bogus
    // name and silently leaving its doomed rows alive.
    val touchedNames =
      probe.map(r => HivePath.percentDecode(r.getString(1))).distinct.sorted
    require(touchedNames.forall(_.nonEmpty),
      s"deleteKeysPartitioned: $path is not partitioned by " +
        s"'$partitionCol' directories — use a full rewrite instead")
    val remaining = spark.read.parquet(path)
      .filter(col(partitionCol).isInCollection(touchedVals))
      .join(doomedKeys, keys, "left_anti")
    val stage = new org.apache.hadoop.fs.Path(root, UpsertStageName)
    fs.delete(stage, true)
    remaining.repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(stage.toString)
    // fully-purged partitions produced no staged directory — stage an
    // explicit 0-row file (data schema only, as partitioned files
    // omit the partition column) so the swap empties them too
    val stagedNames = fs.listStatus(stage)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName).toSet
    touchedNames.filterNot(stagedNames).foreach { name =>
      remaining.drop(partitionCol).limit(0).coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new org.apache.hadoop.fs.Path(stage, name).toString)
    }
    commitStagedPartitions(spark, fs, root, stage, path)
  }

  private val UpsertStageName = ".graft-upsert-stage"
  private val UpsertTxnName = ".graft-upsert-txn"
  private val UpsertTrashSuffix = ".graft-upsert-old"
  private val RetentionTxnName = ".graft-retention-txn"
  private val RetentionTrashSuffix = ".graft-retention-old"

  /** Partition-level retention — the TTL lifecycle a years-deep table
    * needs: DROP every partition whose value fails `keep`, touching
    * nothing else (file-identity preserved for retained partitions; no
    * data is read at all — the decision rides partition VALUES parsed
    * from the directory layout, bounded by partition count, never
    * data scale).
    *
    * Dropping is the one partition mutation the repair disciplines
    * must not undo: both the upsert and compaction recoveries RESTORE
    * an orphaned trash sibling whose partition is absent (their crash
    * windows strand exactly that state), so a retention drop through
    * their trash names would resurrect on the next repair. Retention
    * therefore records intent first: a txn marker naming every doomed
    * partition is committed (write-then-rename), THEN each directory
    * is renamed to a retention-specific trash sibling, a fresh
    * manifest version is committed, and the marker is removed. A
    * crash before the marker leaves the table byte-identical; after
    * it, [[repairRetention]] (run by every entry point here) rolls
    * the drop forward. The trash siblings are RETAINED until the next
    * retention pass (or explicit repair) sweeps them, and
    * [[Manifest.readVersion]] resolves superseded files through them
    * — a reader pinned to the pre-drop snapshot keeps working through
    * and after the drop, same one-version contract as the upsert
    * swap.
    *
    * Returns the dropped partition directory names (empty when
    * everything passes `keep`).
    */
  def dropPartitions(spark: org.apache.spark.sql.SparkSession,
                     path: String, partitionCol: String,
                     keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"dropPartitions: target $path does not exist")
    repairRetention(spark, path)
    repairPartitionedUpsert(spark, path)
    graft.ops.Compaction.repairPartitioned(spark, path)
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    if (parts.isEmpty) return Nil
    // type the parsed partition values exactly as a read would, so the
    // keep predicate compares dates as dates, not strings
    val pType = spark.read.parquet(path).schema(partitionCol).dataType
    import spark.implicits._
    val vals = parts.toSeq.map { n =>
      val raw = n.split("=", 2)(1)
      // Hive unescape (%XX only): URLDecoder would form-decode a
      // literal '+' into a space — Hive never writes '+' for space, so
      // the keep predicate would judge the wrong value and drop or
      // retain the wrong partition
      (n, HivePath.percentDecode(raw))
    }.toDF("__name", "__raw")
      .withColumn("__v",
        when(col("__raw") === "__HIVE_DEFAULT_PARTITION__", lit(null))
          .otherwise(col("__raw")).cast(pType))
    // a NULL partition value has no age: keep(NULL) is NULL under SQL
    // semantics, and any default — drop or retain — silently decides
    // data the predicate never saw. Refuse loudly, like the
    // upsert/delete NULL-partition contracts, unless the caller's
    // predicate explicitly decides NULL (non-null result for NULL in).
    val nullPart = vals.filter(col("__v").isNull)
    if (nullPart.head(1).nonEmpty) {
      val decided = nullPart.select(keep(col("__v")).isNotNull.as("d"))
        .head().getBoolean(0)
      require(decided,
        s"dropPartitions: $path has a NULL '$partitionCol' partition and " +
          "the keep predicate does not decide NULL — extend it (e.g. " +
          "coalesce(keep, lit(true))) or rewrite that partition first")
    }
    val doomed = vals.filter(!coalesce(keep(col("__v")), lit(false)))
      .select("__name").as[String].collect().sorted.toSeq
    if (doomed.isEmpty) return Nil
    require(doomed.size < parts.length,
      s"dropPartitions: keep predicate drops EVERY partition of $path — " +
        "refusing a full-table truncation; use replace()/delete explicitly")
    // commit point: the marker names every doomed partition
    val marker = new org.apache.hadoop.fs.Path(root, RetentionTxnName)
    val markerTmp = new org.apache.hadoop.fs.Path(root, RetentionTxnName + ".tmp")
    val out = fs.create(markerTmp, true)
    try out.write(doomed.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(markerTmp, marker),
      s"dropPartitions: txn marker commit $markerTmp -> $marker failed")
    driveRetention(spark, fs, root, doomed, path)
    doomed
  }

  /** The roll-forward half of [[dropPartitions]]: rename each doomed
    * partition to its retention trash sibling (idempotent — a crash
    * re-drives from any point), commit the post-drop manifest version,
    * and remove the marker. Trash is retained for pinned readers;
    * the NEXT retention entry sweeps it.
    */
  private def driveRetention(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             doomed: Seq[String], path: String): Unit = {
    doomed.foreach { name =>
      val part = new org.apache.hadoop.fs.Path(root, name)
      val trash = new org.apache.hadoop.fs.Path(root, s".$name$RetentionTrashSuffix")
      if (fs.exists(part)) {
        if (fs.exists(trash)) fs.delete(trash, true)
        require(fs.rename(part, trash),
          s"dropPartitions: rename $part -> $trash failed")
      }
    }
    Manifest.commit(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(root, RetentionTxnName), false)
  }

  /** Crash recovery for [[dropPartitions]] — run by retention itself
    * and safe to call from any maintenance entry point. Marker
    * PRESENT: the drop committed — roll it forward (finish the
    * renames, commit the manifest, drop the marker), retaining trash.
    * Marker ABSENT: any retention trash belongs to a COMPLETED drop
    * (trash is created only after the marker, and the marker outlives
    * the renames) — sweep it. The upsert/compaction repairs never
    * touch these names (different suffix), so a dropped partition can
    * never be resurrected by their orphan-restore passes.
    */
  def repairRetention(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val marker = new org.apache.hadoop.fs.Path(root, RetentionTxnName)
    fs.delete(new org.apache.hadoop.fs.Path(root, RetentionTxnName + ".tmp"), false)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val names = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList finally in.close()
      driveRetention(spark, fs, root, names, path)
    } else {
      fs.listStatus(root).filter(s => s.isDirectory &&
          s.getPath.getName.endsWith(RetentionTrashSuffix))
        .foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** Swap one staged partition into place: old → hidden trash sibling,
    * staged → partition. Idempotent given a complete stage: every step
    * checks what already happened, so recovery can re-drive it from
    * any crash point. A COMPLETED write retains the trash sibling
    * (`retainTrash`) so [[Manifest]] readers pinned to the previous
    * snapshot stay consistent through and after the swap — the next
    * upsert's repair sweeps it; crash-recovery re-drives delete it
    * immediately (recovery is already a maintenance pass).
    */
  private def swapStagedPartition(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path,
                                  stage: org.apache.hadoop.fs.Path,
                                  name: String,
                                  retainTrash: Boolean = false): Unit = {
    val part = new org.apache.hadoop.fs.Path(root, name)
    val staged = new org.apache.hadoop.fs.Path(stage, name)
    val trash = new org.apache.hadoop.fs.Path(root, s".$name$UpsertTrashSuffix")
    if (fs.exists(staged)) {
      if (fs.exists(part)) {
        if (fs.exists(trash)) fs.delete(trash, true)
        require(fs.rename(part, trash),
          s"upsertPartitioned: rename $part -> $trash failed")
      }
      require(fs.rename(staged, part),
        s"upsertPartitioned: rename $staged -> $part failed")
    }
    if (!retainTrash && fs.exists(trash)) fs.delete(trash, true)
  }

  /** Crash recovery for [[upsertPartitioned]] — run automatically at
    * the start of every upsert (and callable standalone at service
    * startup). The txn marker decides the direction:
    *
    *  - marker PRESENT: the merge committed — every partition it names
    *    was fully staged before the marker was created, so the
    *    remaining swaps are re-driven to completion (roll forward) and
    *    the table lands all-new;
    *  - marker ABSENT: the merge never committed — a leftover stage
    *    (crash during the stage write) is discarded and the target is
    *    untouched by construction; a trash sibling whose partition is
    *    missing (cannot happen under the protocol, checked anyway) is
    *    restored.
    */
  def repairPartitionedUpsert(spark: org.apache.spark.sql.SparkSession,
                              path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val stage = new org.apache.hadoop.fs.Path(root, UpsertStageName)
    val marker = new org.apache.hadoop.fs.Path(root, UpsertTxnName)
    fs.delete(new org.apache.hadoop.fs.Path(root, UpsertTxnName + ".tmp"), false)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val names = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList finally in.close()
      names.foreach(swapStagedPartition(fs, root, stage, _))
      fs.delete(stage, true)
      fs.delete(marker, false)
      // the roll-forward completed a committed merge: record it — the
      // pre-merge snapshot's trash was swept by the recovery re-drive,
      // so a reader pinned there now gets the loud vacuumed refusal
      Manifest.commit(spark, path)
    } else {
      fs.delete(stage, true)
      fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.endsWith(UpsertTrashSuffix)).foreach { s =>
        val partName = s.getPath.getName.stripPrefix(".")
          .stripSuffix(UpsertTrashSuffix)
        val part = new org.apache.hadoop.fs.Path(root, partName)
        if (!fs.exists(part))
          require(fs.rename(s.getPath, part),
            s"upsertPartitioned: orphan restore ${s.getPath} -> $part failed")
        else fs.delete(s.getPath, true)
      }
    }
  }
}
