package graft.operators

import org.apache.spark.sql.types.StructType

/* Test references: each operator's plan written out as ONE Spark SQL
  * statement (a "recipe") plus a `register*View` helper that installs it as
  * a temp view. The specs run a recipe through `spark.sql` and assert it
  * returns the Scala operator's rows (WebCurationSpec, DecontaminateSpec,
  * AsofJoinSpec, RangeJoinSpec), which pins the operator's plan shape to a
  * second, independent formulation. Not used by any main code.
  */

/** SQL identifier quoting shared by the recipe generators below: columns
  * quote as one backticked part; table names may be catalog-qualified
  * (db.table) and quote per dot-separated part, or the emitted FROM clause
  * becomes one dotted identifier.
  *
  * Embedded metacharacters are escaped, not rejected: backticks double
  * inside backtick-quoted identifiers, and [[strLit]] backslash-escapes
  * string literals (Spark's default parser treats `\` as an escape inside
  * `'...'`), so a hostile or merely unlucky column name can never break
  * out of its quoting context in generated SQL. */
object SqlIdent {
  def col(c: String): String = s"`${c.replace("`", "``")}`"
  def table(t: String): String =
    t.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")
  /** A Spark SQL single-quoted string literal holding exactly `s`. */
  def strLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
}

/** SQL recipes of the [[WebCuration]] keep-first, latest-capture and
  * incremental-delta operators. */
object WebCurationSql {

  /** [[WebCuration.keepFirstSpans]] as EXECUTABLE SPARK SQL — the SQL surface for
    * SQL-first users, composed entirely from the library's REGISTERED
    * native functions (`token_chunks`, `excise_spans` — call
    * `GraftFunctions.register(spark)` once per session) plus built-ins:
    * same occurrence scan, same min-struct winner aggregate, same
    * null-safe excision join-back. Two documented deltas vs the Scala
    * operator: no duplicate-id raise_error (SQL has no clean loud-guard
    * idiom — the caller guarantees unique ids), and no forced
    * materialization of the occurrence frame — the `__occ` CTE feeds two
    * consumers, so on a large corpus `CACHE TABLE`/persist the source (or
    * use the Scala operator, whose `materialize=true` checkpoints it) to
    * avoid tokenizing every document twice. Parity-asserted against the
    * operator (WebCurationSpec). */
  def keepFirstSpansSqlRecipe(table: String, idCol: String, textCol: String,
                              w: Int = 13): String = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    import SqlIdent.{col => q, table => qt}
    val (id, text) = (q(idCol), q(textCol))
    s"""WITH __docs AS (
       |  SELECT $id AS id, $text AS text FROM ${qt(table)}
       |), __occ AS (
       |  SELECT id, c.chunk_idx AS pos, md5(c.chunk) AS sh
       |  FROM __docs LATERAL VIEW explode(token_chunks(text, $w, 1)) AS c
       |  WHERE text IS NOT NULL AND size(split(c.chunk, ' ')) = $w
       |), __win AS (
       |  SELECT sh, min(struct(id, pos)) AS w FROM __occ GROUP BY sh
       |), __struck AS (
       |  SELECT o.id, count(1) AS n_spans_struck,
       |         sort_array(collect_list(o.pos)) AS hits
       |  FROM __occ o JOIN __win ON o.sh = __win.sh
       |  WHERE struct(o.id, o.pos) != __win.w
       |  GROUP BY o.id
       |), __ex AS (
       |  SELECT d.id,
       |         excise_spans(d.text, coalesce(s.hits, CAST(array() AS array<int>)), $w) AS ex,
       |         coalesce(s.n_spans_struck, 0L) AS n_spans_struck
       |  FROM __docs d LEFT JOIN __struck s ON d.id <=> s.id
       |)
       |SELECT id, coalesce(ex.n_tokens, 0L) AS n_tokens, n_spans_struck,
       |       coalesce(ex.n_kept, 0L) AS n_kept, ex.clean AS clean_text
       |FROM __ex""".stripMargin
  }

  /** Register [[keepFirstSpansSqlRecipe]] as a named temp view — the
    * pure-SQL entry point mirroring `AsofJoinSql.registerView`. Registers
    * the graft native functions into the session first. */
  def registerKeepFirstSpansView(spark: org.apache.spark.sql.SparkSession,
                                 viewName: String, table: String,
                                 idCol: String, textCol: String,
                                 w: Int = 13): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      keepFirstSpansSqlRecipe(table, idCol, textCol, w))
  }

  /** [[WebCuration.keepFirstLines]] as ONE executable Spark-SQL statement over the
    * registered natives (`token_chunks`) — the pure-SQL twin of
    * [[keepFirstSpansSqlRecipe]] at line granularity. Same plan shape as
    * the Scala operator: winner per line md5 is a min-struct AGGREGATE
    * (no window over the md5 keyspace), reassembly is an ordered
    * collect per document, and every document re-anchors through a
    * null-safe LEFT JOIN (null-text docs report 0/0/NULL). The Scala
    * API's duplicate-id guard is the one part SQL can't express cheaply;
    * the recipe documents the ids-unique precondition instead. */
  def keepFirstLinesSqlRecipe(table: String, idCol: String, textCol: String,
                              chunk: Int = 8): String = {
    require(chunk >= 1, s"chunk must be >= 1, got $chunk")
    import SqlIdent.{col => q, table => qt}
    val (id, text) = (q(idCol), q(textCol))
    s"""WITH __docs AS (
       |  SELECT $id AS id, $text AS text FROM ${qt(table)}
       |), __lines AS (
       |  SELECT id, c.chunk_idx AS idx, c.chunk AS line, md5(c.chunk) AS lmd5
       |  FROM __docs LATERAL VIEW explode(token_chunks(text, $chunk, $chunk)) AS c
       |  WHERE text IS NOT NULL
       |), __win AS (
       |  SELECT lmd5, min(struct(id, idx)) AS w FROM __lines GROUP BY lmd5
       |), __kept AS (
       |  SELECT l.id, count(1) AS n_lines,
       |         sum(CASE WHEN struct(l.id, l.idx) = __win.w THEN 1L ELSE 0L END) AS n_kept,
       |         array_join(transform(array_sort(collect_list(
       |           CASE WHEN struct(l.id, l.idx) = __win.w THEN struct(l.idx, l.line) END)),
       |           s -> s.line), '\n') AS joined
       |  FROM __lines l JOIN __win ON l.lmd5 = __win.lmd5
       |  GROUP BY l.id
       |)
       |SELECT d.id, coalesce(k.n_lines, 0L) AS n_lines,
       |       coalesce(k.n_kept, 0L) AS n_kept,
       |       CASE WHEN coalesce(k.n_kept, 0L) > 0 THEN k.joined END AS clean_text
       |FROM __docs d LEFT JOIN __kept k ON d.id <=> k.id""".stripMargin
  }

  /** [[WebCuration.keepFirstUnits]] as ONE executable Spark-SQL statement — pure
    * builtins (no natives needed: the unit split is `split` on the
    * regex-quoted literal separator with empties removed). Same plan
    * shape and same documented ids-unique precondition as the line/span
    * recipes. Parity-asserted against the operator (WebCurationSpec). */
  def keepFirstUnitsSqlRecipe(table: String, idCol: String, textCol: String,
                              sep: String): String = {
    require(sep.nonEmpty, "keepFirstUnitsSqlRecipe needs a non-empty separator")
    import SqlIdent.{col => q, strLit, table => qt}
    val (id, text) = (q(idCol), q(textCol))
    val sepPat = strLit(java.util.regex.Pattern.quote(sep))
    val sepLit = strLit(sep)
    s"""WITH __docs AS (
       |  SELECT $id AS id, $text AS text FROM ${qt(table)}
       |), __units AS (
       |  SELECT id, idx, unit, md5(unit) AS um
       |  FROM __docs
       |  LATERAL VIEW posexplode(array_remove(split(text, $sepPat), '')) AS idx, unit
       |  WHERE text IS NOT NULL
       |), __win AS (
       |  SELECT um, min(struct(id, idx)) AS w FROM __units GROUP BY um
       |), __kept AS (
       |  SELECT u.id, count(1) AS n_units,
       |         sum(CASE WHEN struct(u.id, u.idx) = __win.w THEN 1L ELSE 0L END) AS n_kept,
       |         array_join(transform(array_sort(collect_list(
       |           CASE WHEN struct(u.id, u.idx) = __win.w THEN struct(u.idx, u.unit) END)),
       |           s -> s.unit), $sepLit) AS joined
       |  FROM __units u JOIN __win ON u.um = __win.um
       |  GROUP BY u.id
       |)
       |SELECT d.id, coalesce(k.n_units, 0L) AS n_units,
       |       coalesce(k.n_kept, 0L) AS n_kept,
       |       CASE WHEN coalesce(k.n_kept, 0L) > 0 THEN k.joined END AS clean_text
       |FROM __docs d LEFT JOIN __kept k ON d.id <=> k.id""".stripMargin
  }

  /** Register [[keepFirstUnitsSqlRecipe]] as a named temp view. */
  def registerKeepFirstUnitsView(spark: org.apache.spark.sql.SparkSession,
                                 viewName: String, table: String,
                                 idCol: String, textCol: String,
                                 sep: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      keepFirstUnitsSqlRecipe(table, idCol, textCol, sep))

  /** Register [[keepFirstLinesSqlRecipe]] as a named temp view — the
    * pure-SQL entry point mirroring [[registerKeepFirstSpansView]]. */
  def registerKeepFirstLinesView(spark: org.apache.spark.sql.SparkSession,
                                 viewName: String, table: String,
                                 idCol: String, textCol: String,
                                 chunk: Int = 8): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      keepFirstLinesSqlRecipe(table, idCol, textCol, chunk))
  }

  /** [[WebCuration.latestCapture]] as ONE executable Spark-SQL statement — pure
    * builtins (the argmax is the same `max(struct(ts, id))` aggregate).
    * Parity-asserted against the operator (WebCurationSpec). */
  def latestCaptureSqlRecipe(table: String, urlCol: String, tsCol: String,
                             idCol: String): String = {
    import SqlIdent.{col => q, table => qt}
    s"""WITH __caps AS (
       |  SELECT ${q(urlCol)} AS url, ${q(tsCol)} AS ts, ${q(idCol)} AS id
       |  FROM ${qt(table)}
       |), __agg AS (
       |  SELECT url, count(1) AS n_captures, max(struct(ts, id)) AS w
       |  FROM __caps GROUP BY url
       |)
       |SELECT url, n_captures, w.ts AS ts, w.id AS id FROM __agg""".stripMargin
  }

  /** Register [[latestCaptureSqlRecipe]] as a named temp view. */
  def registerLatestCaptureView(spark: org.apache.spark.sql.SparkSession,
                                viewName: String, table: String,
                                urlCol: String, tsCol: String,
                                idCol: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      latestCaptureSqlRecipe(table, urlCol, tsCol, idCol))

  /** [[WebCuration.incrementalDelta]] as ONE executable Spark-SQL statement — same
    * (url, md5) reduction, null-safe compare, and loud duplicate-base-url
    * guard. Parity-asserted against the operator (WebCurationSpec). */
  def incrementalDeltaSqlRecipe(batchTable: String, baseTable: String,
                                urlCol: String, idCol: String,
                                textCol: String): String = {
    import SqlIdent.{col => q, table => qt}
    val (u, id, text) = (q(urlCol), q(idCol), q(textCol))
    s"""WITH __base AS (
       |  SELECT url,
       |         CASE WHEN count(1) = 1 THEN max(m)
       |              ELSE raise_error(concat(
       |                'incrementalDelta: duplicate base url (base must hold one current row per url): ',
       |                url)) END AS base_md5,
       |         true AS in_base
       |  FROM (SELECT $u AS url, md5($text) AS m FROM ${qt(baseTable)}
       |        WHERE $u IS NOT NULL)
       |  GROUP BY url
       |), __batch AS (
       |  SELECT $id AS id, $u AS url, md5($text) AS bm FROM ${qt(batchTable)}
       |)
       |SELECT b.id, b.url,
       |       CASE WHEN e.in_base IS NULL THEN 'new'
       |            WHEN b.bm <=> e.base_md5 THEN 'unchanged'
       |            ELSE 'changed' END AS status
       |FROM __batch b LEFT JOIN __base e ON b.url = e.url""".stripMargin
  }

  /** Register [[incrementalDeltaSqlRecipe]] as a named temp view. */
  def registerIncrementalDeltaView(spark: org.apache.spark.sql.SparkSession,
                                   viewName: String, batchTable: String,
                                   baseTable: String, urlCol: String,
                                   idCol: String, textCol: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      incrementalDeltaSqlRecipe(batchTable, baseTable, urlCol, idCol, textCol))
}

/** SQL recipe of [[Decontaminate.flag]]. */
object DecontaminateSql {

  /** [[Decontaminate.flag]] as ONE executable Spark-SQL statement over the registered
    * natives (`token_chunks` — call `GraftFunctions.register(spark)`
    * once per session) — the SQL surface of the decontamination gate,
    * mirroring the keep-first recipe family. Same plan shape as the
    * operator: distinct (id, shingle-md5) pairs left-join the benchmark's
    * distinct shingle set, counts re-anchor on the corpus id set with a
    * null-safe LEFT JOIN so null-text docs report (0, 0, false). The
    * Scala API's duplicate-id raise_error is the one part SQL can't
    * express cheaply; the recipe documents the ids-unique precondition
    * instead (the keepFirst recipes' documented delta). */
  def flagSqlRecipe(corpusTable: String, benchTable: String,
                    idCol: String, textCol: String,
                    w: Int = 13, minOverlap: Long = 3L): String = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    import SqlIdent.{col => q, table => qt}
    val (id, text) = (q(idCol), q(textCol))
    s"""WITH __c AS (
       |  SELECT $id AS id, $text AS text FROM ${qt(corpusTable)}
       |), __csh AS (
       |  SELECT DISTINCT id, md5(c.chunk) AS sh
       |  FROM __c LATERAL VIEW explode(token_chunks(text, $w, 1)) AS c
       |  WHERE text IS NOT NULL AND size(split(c.chunk, ' ')) = $w
       |), __bsh AS (
       |  SELECT DISTINCT md5(c.chunk) AS sh
       |  FROM ${qt(benchTable)} LATERAL VIEW explode(token_chunks($text, $w, 1)) AS c
       |  WHERE $text IS NOT NULL AND size(split(c.chunk, ' ')) = $w
       |), __m AS (
       |  SELECT c.id, count(1) AS n_shingles, count(b.sh) AS n_matched
       |  FROM __csh c LEFT JOIN __bsh b ON c.sh = b.sh GROUP BY c.id
       |)
       |SELECT d.id, coalesce(m.n_shingles, 0L) AS n_shingles,
       |       coalesce(m.n_matched, 0L) AS n_matched,
       |       coalesce(m.n_matched, 0L) >= $minOverlap AS contaminated
       |FROM (SELECT DISTINCT id FROM __c) d LEFT JOIN __m m ON d.id <=> m.id""".stripMargin
  }

  /** Register [[flagSqlRecipe]] as a named temp view — the pure-SQL
    * entry point mirroring the keep-first views. */
  def registerFlagView(spark: org.apache.spark.sql.SparkSession,
                       viewName: String, corpusTable: String, benchTable: String,
                       idCol: String, textCol: String,
                       w: Int = 13, minOverlap: Long = 3L): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      flagSqlRecipe(corpusTable, benchTable, idCol, textCol, w, minOverlap))
  }
}

/** SQL recipe of [[AsofJoin.asofJoin]]. */
object AsofJoinSql {

  /** The as-of join as EXECUTABLE SPARK SQL — the SQL surface for
    * SQL-first users (DuckDB spells this `ASOF LEFT JOIN`; Spark has no
    * such syntax, so the recipe expands to the identical union-sort
    * carry-forward formulation the Scala API plans). `leftTable` /
    * `rightTable` are table or temp-view names resolved through the
    * session catalog (needed to type the cross-side NULL structs and
    * enumerate output columns). Run the returned string with
    * `spark.sql(...)`; rows are identical to [[AsofJoin.asofJoin]]
    * (AsofJoinSpec parity case). */
  def sqlRecipe(spark: org.apache.spark.sql.SparkSession,
                leftTable: String, rightTable: String, keys: Seq[String],
                leftTs: String, rightTs: String,
                rightCols: Seq[String]): String = {
    import SqlIdent.{col => q, table => qt}
    val left = spark.table(leftTable)
    val right = spark.table(rightTable)
    require(rightCols.nonEmpty, "asofJoin needs at least one right value column")
    val collide = left.columns.toSet.intersect(rightCols.toSet)
    require(collide.isEmpty, s"right value columns collide with left columns: $collide")
    val reserved = Set("__ts", "__side", "__lval", "__rval", "__carried")
    val taken = (left.columns ++ right.columns).toSet.intersect(reserved)
    require(taken.isEmpty, s"inputs use asofJoin-reserved column names: $taken")
    val lType = StructType(left.schema.fields)
    val rType = StructType(rightCols.map(c => right.schema(c)).toArray)
    val keyList = keys.map(q).mkString(", ")
    val lStruct = left.columns.map(c => s"${SqlIdent.strLit(c)}, ${q(c)}")
      .mkString("named_struct(", ", ", ")")
    val rStruct = rightCols.map(c => s"${SqlIdent.strLit(c)}, ${q(c)}")
      .mkString("named_struct(", ", ", ")")
    val rNotNull = (keys :+ rightTs).map(c => s"${q(c)} IS NOT NULL").mkString(" AND ")
    val outCols = (left.columns.map(c => s"__lval.${q(c)} AS ${q(c)}") ++
      rightCols.map(c => s"__carried.${q(c)} AS ${q(c)}")).mkString(", ")
    s"""WITH __u AS (
       |  SELECT $keyList, ${q(leftTs)} AS __ts, 1 AS __side,
       |         $lStruct AS __lval, CAST(NULL AS ${rType.sql}) AS __rval
       |  FROM ${qt(leftTable)}
       |  UNION ALL
       |  SELECT $keyList, ${q(rightTs)} AS __ts, 0 AS __side,
       |         CAST(NULL AS ${lType.sql}) AS __lval, $rStruct AS __rval
       |  FROM ${qt(rightTable)} WHERE $rNotNull
       |), __c AS (
       |  SELECT *, last_value(__rval, true) OVER (
       |    PARTITION BY $keyList ORDER BY __ts ASC, __side ASC, __rval ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __carried
       |  FROM __u
       |)
       |SELECT $outCols FROM __c WHERE __side = 1""".stripMargin
  }

  /** Register the as-of join as a named temp view — the pure-SQL entry
    * point: after one call, SQL-only users query `SELECT * FROM viewName`
    * (and compose it further in SQL) with the exact union-sort
    * carry-forward plan [[AsofJoin.asofJoin]] declares; no Scala at query time.
    * The view re-resolves its source tables on every query, so it stays
    * live as the underlying tables change. */
  def registerView(spark: org.apache.spark.sql.SparkSession, viewName: String,
                   leftTable: String, rightTable: String, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   rightCols: Seq[String]): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      sqlRecipe(spark, leftTable, rightTable, keys, leftTs, rightTs, rightCols))
}

/** SQL recipe of [[RangeJoin.rangeJoin]]. */
object RangeJoinSql {

  /** The range join as EXECUTABLE SPARK SQL — same bucketized equi-join
    * plan the Scala API declares, for SQL-first users (a raw BETWEEN join
    * in SQL degenerates on hot keys; this recipe does not). Table/view
    * names resolve through the session catalog to enumerate output
    * columns. Rows identical to [[RangeJoin.rangeJoin]] (RangeJoinSpec parity). */
  def sqlRecipe(spark: org.apache.spark.sql.SparkSession,
                pointsTable: String, intervalsTable: String, keys: Seq[String],
                ptTs: String, startTs: String, endTs: String,
                bucketSeconds: Long = 86400L): String = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    import SqlIdent.{col => q, table => qt}
    val points = spark.table(pointsTable)
    val intervals = spark.table(intervalsTable)
    val collide = points.columns.toSet.intersect(intervals.columns.toSet) -- keys.toSet
    require(collide.isEmpty, s"non-key columns present on both sides: $collide")
    require(!(points.columns ++ intervals.columns).contains("__bucket"),
      "inputs use the rangeJoin-reserved column name __bucket")
    val keyList = keys.map(q).mkString(", ")
    val ptRest = points.columns.filterNot(keys.contains).map(c => s"__pt.${q(c)}")
    val ivRest = intervals.columns.filterNot(keys.contains).map(c => s"__iv.${q(c)}")
    val outCols = (keys.map(q) ++ ptRest ++ ivRest).mkString(", ")
    s"""WITH __iv AS (
       |  SELECT *, explode(sequence(
       |      CAST(floor(unix_timestamp(${q(startTs)}) / $bucketSeconds) AS BIGINT),
       |      CAST(floor(unix_timestamp(${q(endTs)}) / $bucketSeconds) AS BIGINT))) AS __bucket
       |  FROM ${qt(intervalsTable)} WHERE ${q(endTs)} >= ${q(startTs)}
       |), __pt AS (
       |  SELECT *, CAST(floor(unix_timestamp(${q(ptTs)}) / $bucketSeconds) AS BIGINT) AS __bucket
       |  FROM ${qt(pointsTable)}
       |)
       |SELECT $outCols
       |FROM __pt JOIN __iv USING ($keyList, __bucket)
       |WHERE __pt.${q(ptTs)} >= __iv.${q(startTs)} AND __pt.${q(ptTs)} <= __iv.${q(endTs)}""".stripMargin
  }

  /** Register the range join as a named temp view — the pure-SQL entry
    * point mirroring [[AsofJoinSql.registerView]]: one call, then SQL-only
    * users query `SELECT * FROM viewName` and get the bucketized equi-join
    * plan instead of the hot-key-degenerate raw BETWEEN join. */
  def registerView(spark: org.apache.spark.sql.SparkSession, viewName: String,
                   pointsTable: String, intervalsTable: String, keys: Seq[String],
                   ptTs: String, startTs: String, endTs: String,
                   bucketSeconds: Long = 86400L): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${SqlIdent.table(viewName)} AS\n" +
      sqlRecipe(spark, pointsTable, intervalsTable, keys, ptTs, startTs, endTs, bucketSeconds))
}
