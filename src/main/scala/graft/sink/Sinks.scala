package graft.sink

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Load-side operators (SURVEY §2.2): idempotent append (the reference's
  * `INSERT ... ON CONFLICT DO NOTHING`, K1/K3), bulk JDBC append (K2),
  * SCD-1 dimension overwrite (K5), CSV export (K7).
  */
object Sinks {

  /** Idempotent append to a parquet "table" directory: dedup within the
    * batch on the natural key, anti-join against what the sink already
    * holds, append the remainder. Exactly the reference's at-least-once +
    * keyed-dedup = effectively-once contract (ls_opening.rs:100), shaped for
    * `foreachBatch` reuse. Re-delivering the same batch appends no rows.
    * NULL is a key like any other: the dedup keeps one row for it and the
    * anti-join matches it null-safely, so a NULL key lands once.
    * The sink's keys are read with their types in `batch` ([[heldKeys]]);
    * they may be partition columns of the table.
    */
  def appendDedupParquet(batch: DataFrame, path: String, keys: Seq[String],
      partitionCols: Seq[String] = Seq.empty): Unit = {
    val held = Option.when(exists(batch.sparkSession, path))(heldKeys(batch, path, keys))
    appendParquet(unseen(batch, keys, held), path, partitionCols)
  }

  /** The split-column form of [[appendDedupParquet]]: the string column
    * `splitCol` routes each row to the table `<root>/<value>`, for the values
    * in `tables` (rows with any other value are dropped; the column itself
    * is not written). One dedup on `(splitCol, keys)` and ONE anti-join
    * against the keys every existing table holds replace a pass per table.
    * Those keys are read in one file scan over all the tables
    * ([[heldKeysByTable]]), so no key may be a partition column, and each
    * table name must be one directory level. NULL keys land once, as in
    * the single-table form. The new rows are materialized once, counted per
    * table in one aggregate, and appended only to the tables that gained
    * rows, so a re-delivered batch costs its key check and writes nothing.
    *
    * Returns the rows this call landed per table (0 where none landed) —
    * counted before the write, so a caller logs what it appended, not a
    * table total.
    */
  def appendDedupParquet(batch: DataFrame, root: String, splitCol: String,
      tables: Seq[String], keys: Seq[String],
      partitionCols: Seq[String]): Map[String, Long] = {
    require(!keys.exists(partitionCols.contains) && !tables.exists(_.contains('/')),
      s"keys $keys must not be partition columns $partitionCols; tables $tables must not nest")
    val present = tables.filter(t => exists(batch.sparkSession, s"$root/$t"))
    val held = Option.when(present.nonEmpty)(
      heldKeysByTable(batch, root, present, splitCol, keys, partitionCols.size))
    val fresh = unseen(batch.filter(col(splitCol).isin(tables: _*)), splitCol +: keys, held)
      .persist()
    try {
      val landed = fresh.groupBy(col(splitCol)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // rebalance each table's rows on its partition columns: the shared
      // materialization's partitions hold every table's rows, and writing
      // them as they lie would give each table a file per partition per
      // table partition
      for ((t, _) <- landed)
        appendParquet(fresh.filter(col(splitCol) === t).drop(splitCol)
          .hint("rebalance", partitionCols.map(col): _*), s"$root/$t", partitionCols)
      tables.map(t => t -> landed.getOrElse(t, 0L)).toMap
    } finally fresh.unpersist()
  }

  /** The `keys` columns of the table at `path`, read with the types they
    * have in `batch`: a known schema spares the footer-inference job that a
    * plain read of the table runs first.
    */
  private def heldKeys(batch: DataFrame, path: String, keys: Seq[String]): DataFrame =
    batch.sparkSession.read.schema(StructType(keys.map(batch.schema(_)))).parquet(path)
      .select(keys.map(col): _*)

  /** `(splitCol, keys)` of every row held by the tables `<root>/<t>`, read
    * in one recursive file scan with the key types of `batch`. A row's table
    * is the directory above the `partitionDepth` partition directories that
    * hold its file, named as Spark reports it in `_metadata.file_path`:
    * URL-encoded, so it is looked up by each table's encoded name rather
    * than decoded (a decode would read `+` as a space). The root is never
    * matched as a prefix of the path. A file whose directory at that depth
    * names no table (a table written with other partition columns, a stray
    * subdirectory) fails the read: its keys would otherwise match nothing
    * and land again. The recursive read infers no partition columns, and it
    * skips `_`- and `.`-prefixed files and directories (`_temporary`,
    * unpublished files) as a plain read does.
    */
  private def heldKeysByTable(batch: DataFrame, root: String, tables: Seq[String],
      splitCol: String, keys: Seq[String], partitionDepth: Int): DataFrame = {
    val paths = tables.map(t => s"$root/$t")
    val byEncodedName = typedLit(paths.map(p =>
      new org.apache.hadoop.fs.Path(p).toUri.getRawPath.split('/').last).zip(tables).toMap)
    val dir = element_at(split(col("_metadata.file_path"), "/"), -(partitionDepth + 2))
    batch.sparkSession.read.schema(StructType(keys.map(batch.schema(_))))
      .option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(coalesce(element_at(byEncodedName, dir), raise_error(concat(
        lit("unexpected file under split root: "), col("_metadata.file_path"))))
        .as(splitCol) +: keys.map(col): _*)
  }

  /** `batch` deduplicated on `keys`, minus every key already in `held`
    * (whose columns are `keys`, in order). Keys match null-safely, as the
    * dedup groups them: a NULL key already held is not appended again.
    */
  private def unseen(batch: DataFrame, keys: Seq[String], held: Option[DataFrame]): DataFrame = {
    val fresh = batch.dropDuplicates(keys)
    held.fold(fresh) { held =>
      val h = held.toDF(keys.map("__held_" + _): _*)
      fresh.join(h, keys.map(k => fresh(k) <=> h("__held_" + k)).reduce(_ && _), "left_anti")
    }
  }

  private def appendParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val writer = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** Idempotent JDBC append: stage the batch minus already-present keys, then
    * bulk-append (reference K1/K2/K3; `batchsize` plays push_values). The
    * anti-join reads only the key columns from the sink — pushdown keeps it a
    * key scan, not a full-table read — and matches NULL keys null-safely,
    * so a NULL key lands once.
    */
  def appendDedupJdbc(batch: DataFrame, url: String, table: String,
      keys: Seq[String], props: Properties = new Properties()): Unit = {
    // Only a confirmed-absent table may skip the anti-join: a transient read
    // failure must propagate, or a replayed batch would double-append and
    // break the effectively-once contract.
    val held = Option.when(jdbcTableExists(url, table, props))(
      batch.sparkSession.read.jdbc(url, table, props).select(keys.map(col): _*))
    unseen(batch, keys, held).write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** SCD-1 dimension refresh: full overwrite of a small registry table
    * (reference currency_registry upsert + mass-deprecate, K5 — at dimension
    * sizes an overwrite is simpler and transactional-enough).
    */
  def overwriteDimensionJdbc(dim: DataFrame, url: String, table: String,
      props: Properties = new Properties()): Unit =
    dim.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** Keyed upsert (K4 point-UPDATE batch analog): new rows replace existing
    * rows with the same key; untouched rows survive. Spark's JDBC writer has
    * no MERGE, so the batch is bulk-staged to a uniquely-named side table (a
    * distributed JDBC write — nothing ever passes through the driver; the
    * unique suffix keeps concurrent upserts to the same target from
    * clobbering each other's stage) and ONE sink-side apply statement moves
    * it into the target. The statement is picked per JDBC dialect — the
    * reference's own contract is `INSERT ... ON CONFLICT DO UPDATE`
    * (etl-core/src/dao/postgre/currency_registry.rs:9-50), which Postgres
    * of any vintage and SQLite speak, while MySQL wants ON DUPLICATE KEY
    * and ANSI engines (Derby, H2, Oracle, MSSQL) take MERGE INTO:
    *
    *  - postgresql / sqlite → `INSERT ... SELECT ... ON CONFLICT (keys) DO
    *    UPDATE SET c = EXCLUDED.c` (requires a unique index on the keys,
    *    which the ON CONFLICT contract presumes)
    *  - mysql / mariadb → `INSERT ... SELECT ... ON DUPLICATE KEY UPDATE
    *    c = VALUES(c)` (backtick quoting; unique key on the keys presumed)
    *  - everything else → ANSI `MERGE INTO`
    *
    * Within-batch duplicate keys are collapsed first (a multi-match source
    * row is a MERGE error in ANSI engines): pass `orderCol` to keep the row
    * with the greatest value of that column per key (the "last write wins"
    * the reference gets from statement order); without it the pick among
    * genuinely-different duplicate rows is arbitrary, as DataFrames carry no
    * row order. The staging table is dropped afterwards; a failed DROP is
    * logged and swallowed so it can never mask the apply-statement failure
    * (orphaned `__graft_stage_` tables are documented cleanable).
    */
  def upsertJdbc(updates: DataFrame, url: String, table: String,
      keys: Seq[String], props: Properties = new Properties(),
      orderCol: Option[String] = None): Unit = {
    require(keys.nonEmpty, "upsertJdbc requires at least one key column")
    val batch = orderCol match {
      case Some(c) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(c).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => updates.dropDuplicates(keys)
    }
    // A transient existence-check failure must propagate, not be mistaken
    // for "table absent" (which would fork the no-upsert create path).
    if (!jdbcTableExists(url, table, props)) {
      batch.write.mode(SaveMode.Append).jdbc(url, table, props)
    } else {
      val stage = stagingName(table)
      batch.write.mode(SaveMode.Overwrite).jdbc(url, stage, props)
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val sql = upsertSql(url, table, stage, batch.columns.toSeq, keys)
        val st = conn.createStatement()
        try st.executeUpdate(sql)
        finally st.close()
      } finally {
        // best-effort cleanup: if the apply failed (e.g. connection loss)
        // this DROP usually fails too — swallowing keeps the ROOT CAUSE
        // propagating instead of replacing it with the DROP's exception
        try {
          val st = conn.createStatement()
          try st.executeUpdate(s"DROP TABLE $stage")
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[upsertJdbc] staging table $stage not dropped " +
                s"(${e.getMessage}) — __graft_stage_ tables are safe to clean up")
          } finally st.close()
        } catch {
          case scala.util.control.NonFatal(_) => // createStatement on a dead conn
        } finally conn.close()
      }
    }
  }

  /** The dialect-dispatched upsert statement (pure string builder — unit-
    * tested per dialect; the Derby/MERGE branch is also integration-tested).
    * Identifier quoting matches what Spark's JDBC writer used to CREATE the
    * staging columns: backticks on MySQL, double quotes elsewhere.
    */
  private[graft] def upsertSql(url: String, table: String, stage: String,
      cols: Seq[String], keys: Seq[String]): String = {
    val mysql = url.startsWith("jdbc:mysql") || url.startsWith("jdbc:mariadb")
    def q(c: String) = if (mysql) s"`$c`" else "\"" + c + "\""
    val nonKeys = cols.filterNot(keys.contains)
    val colList = cols.map(q).mkString(", ")
    if (url.startsWith("jdbc:postgresql") || url.startsWith("jdbc:sqlite")) {
      val conflict =
        if (nonKeys.isEmpty) " DO NOTHING"
        else " DO UPDATE SET " + nonKeys.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"INSERT INTO $table ($colList) SELECT $colList FROM $stage" +
        s" ON CONFLICT (${keys.map(q).mkString(", ")})$conflict"
    } else if (mysql) {
      // key-only tables: refresh a key column with itself — MySQL's idiom
      // for "do nothing" without INSERT IGNORE's error-swallowing
      val updates = (if (nonKeys.isEmpty) keys.take(1) else nonKeys)
        .map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
      s"INSERT INTO $table ($colList) SELECT $colList FROM $stage" +
        s" ON DUPLICATE KEY UPDATE $updates"
    } else {
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val matched = if (nonKeys.isEmpty) ""
        else " WHEN MATCHED THEN UPDATE SET " +
          nonKeys.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
      val insert = s" WHEN NOT MATCHED THEN INSERT ($colList)" +
        s" VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
      s"MERGE INTO $table t USING $stage s ON $on$matched$insert"
    }
  }

  /** Unique staging-table name next to the target (schema-qualified names
    * keep their schema part); uniqueness isolates concurrent upserts. A
    * crashed JVM can orphan its stage — the `__graft_stage_` prefix makes
    * those trivially identifiable for cleanup.
    */
  private def stagingName(table: String): String = {
    val suffix = s"__graft_stage_${java.util.UUID.randomUUID().toString.replace("-", "").take(10)}"
    table.split('.') match {
      case Array(s, t) => s"$s.$t$suffix"
      case _           => s"$table$suffix"
    }
  }

  /** K7 bulk path: distributed CSV export with header — for whole-table
    * extracts too large for a response body. The serving-edge twin (the
    * reference's `?format=csv` attachment, exact RFC 4180 cell semantics)
    * is [[graft.serve.Responses.toCsvResponse]].
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** K6 JSON response sink — body of
    * [[graft.serve.Responses.toJsonResponse]], kept as a String helper. A
    * response body is driver-side by nature, so the row count is clamped
    * first — pair with [[graft.serve.TimeWindowParams.clampLimit]] for the
    * request-facing cap.
    */
  def toJsonResponse(df: DataFrame, maxRows: Int = 100): String =
    graft.serve.Responses.toJsonResponse(df, maxRows).body

  /** Definitive table-existence check via JDBC metadata (connection errors
    * propagate; only true absence returns false). Handles schema-qualified
    * names ("schema.table") by matching both parts.
    */
  private def jdbcTableExists(url: String, table: String, props: Properties): Boolean = {
    val (schemaOpt, bare) = table.split('.') match {
      case Array(s, t) => (Some(s), t)
      case _           => (None, table)
    }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      var found = false
      while (!found && rs.next()) {
        val nameOk = rs.getString("TABLE_NAME").equalsIgnoreCase(bare)
        val schemaOk = schemaOpt.forall(s =>
          Option(rs.getString("TABLE_SCHEM")).exists(_.equalsIgnoreCase(s)))
        if (nameOk && schemaOk) found = true
      }
      found
    } finally conn.close()
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
