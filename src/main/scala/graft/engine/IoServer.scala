package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Engine
import graft.dialect.{ExprCompiler, ExprParser, QueryParser}
import graft.dialect.QueryParser.ParsedQuery
import graft.operators.SequentialId

/** The reference's IO-server surface as a Spark-native engine: one
  * [[IoServer]] ≈ one server process (catalog of databases/fragments),
  * one [[Session]] ≈ one client connection (current_db, last result set,
  * open create_frag statement) — mirroring the per-thread session state of
  * src/server/oph_io_server_thread.h:78-87.
  *
  * Dispatch follows src/server/oph_io_server_query.c:37-536 — all 14
  * `operation=` entry points plus the three stored procedures
  * (oph_io_server_query_procedures.c). Fragments are DataFrames persisted
  * MEMORY_AND_DISK (a strict upgrade over the reference's RAM-only MEMORY
  * device, which errors at 10% free RAM —
  * src/common/oph_server_utility.c:407-431).
  *
  * Scale posture: a fragment at 100 TB is a partitioned DataFrame, not a
  * single in-memory table; nothing here collects to the driver except
  * `select` result paging, which is bounded by maxResultRows.
  */
/** @param compatStrict replicate the reference's restrictions exactly
  *   (id-only WHERE variables — oph_io_server_query_blocks.c:583-591;
  *   2-column CTAS — query_manager.h:80; ascending-only ORDER, desc
  *   ignored with a warning — oph_query_parser.c:280-284). Native mode
  *   (default) lifts all three. */
final class IoServer(val spark: SparkSession, maxResultRows: Int = 1000000,
                     val compatStrict: Boolean = false) {

  private val dbs = mutable.Set[String]("default")
  private val frags = mutable.Map[(String, String), DataFrame]()
  private val fragSizes = mutable.Map[(String, String), Long]()
  private val fragZip = mutable.Set[(String, String)]()

  def newSession(): Session = new Session(this)

  private[engine] def createDb(name: String): Unit = synchronized {
    if (dbs.contains(name))
      throw new IllegalArgumentException(s"database $name exists")
    dbs += name
  }
  private[engine] def dropDb(name: String): Unit = synchronized {
    if (frags.keys.exists(_._1 == name))
      throw new IllegalArgumentException(s"database $name not empty")
    dbs -= name
  }
  private[engine] def hasDb(name: String): Boolean = synchronized(dbs.contains(name))
  private[engine] def putFrag(db: String, name: String, df: DataFrame,
                              sizeHint: Long,
                              compressed: Boolean = false): Unit = synchronized {
    if (frags.contains((db, name)))
      throw new IllegalArgumentException(s"fragment $db.$name exists")
    frags((db, name)) = df
    fragSizes((db, name)) = sizeHint
    if (compressed) fragZip += ((db, name))
  }
  private[engine] def getFrag(db: String, name: String): DataFrame = synchronized {
    val df = frags.getOrElse((db, name),
      throw new IllegalArgumentException(s"no such fragment: $db.$name"))
    // compressed=yes fragments (oph_query_engine_language.h:82) STORE
    // zlib-deflated packed cells (the cache holds the small bytes, like
    // the reference's compressed BLOBs) and inflate transparently on read
    if (fragZip((db, name)))
      df.withColumn("measure", graft.sources.BinaryCodec.oph_from_bin(
        graft.sources.BinaryCodec.oph_uncompress(col("measure"))))
    else df
  }
  private[engine] def dropFrag(db: String, name: String): Unit = synchronized {
    val df = frags.remove((db, name)).getOrElse(
      throw new IllegalArgumentException(s"no such fragment: $db.$name"))
    fragSizes.remove((db, name))
    fragZip -= ((db, name))
    release(df)
  }
  /** Unpersist a frame that left the catalog, unless a live fragment's plan
    * has the same result: cache entries are keyed by plan, so it shares one. */
  private def release(df: DataFrame): Unit = synchronized {
    val plan = df.queryExecution.analyzed
    if (!frags.values.exists(_.queryExecution.analyzed.sameResult(plan))) df.unpersist()
  }
  /** Rows of a fragment (0 if absent). A fragment registered or swapped
    * in without a size (-1) is counted on first use by filling its cache,
    * which its first query would fill anyway, and the count is recorded
    * unless the fragment was replaced meanwhile. The fill runs outside
    * the catalog lock. */
  private[engine] def fragSize(db: String, name: String): Long = {
    val (known, df) = synchronized {
      (fragSizes.getOrElse((db, name), 0L), frags.get((db, name)))
    }
    if (known >= 0) known
    else df.fold(0L) { d =>
      val n = Engine.materialize(d)
      synchronized {
        if (frags.get((db, name)).exists(_ eq d)) fragSizes((db, name)) = n
      }
      n
    }
  }
  /** The fragment's STORED representation — compressed fragments keep
    * zlib blobs here; [[getFrag]] returns the inflated view. */
  def storedFrag(db: String, name: String): DataFrame = synchronized {
    frags.getOrElse((db, name),
      throw new IllegalArgumentException(s"no such fragment: $db.$name"))
  }
  def fragmentNames: Seq[(String, String)] = synchronized(frags.keys.toSeq.sorted)

  /** Direct fragment registration from any DataFrame — the parquet-era
    * analogue of `file_import` (oph_io_server_query_engine.c:617-648):
    * ingest is whatever `spark.read` can produce, keyed by an `id_dim`
    * column. Not persisted eagerly; the first dialect query that touches
    * it pulls it through the session cache, and the first size query
    * ([[fragSize]]) counts it. */
  def registerFragment(db: String, name: String, df: DataFrame,
                       persist: Boolean = true): Unit = {
    val d = if (persist) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    putFrag(db, name, d, -1L)
  }

  /** Replace a fragment in place (streaming ingest: each micro-batch
    * swaps in the grown cached union — the serving pattern of
    * "Structured Streaming + in-memory caching"). */
  def updateFragment(db: String, name: String, df: DataFrame,
                     sizeHint: Long = -1L): Unit = synchronized {
    val old = frags.put((db, name), df)
    fragSizes((db, name)) = sizeHint
    old.foreach(release)
  }

  /** Persist the whole catalog to `dir` (parquet per fragment + a
    * manifest) — the durable analogue of the reference MetaDB's binary
    * schema file (oph_metadb_interface.h:152-159), which persisted only
    * METADATA because the MEMORY device loses data on restart. Here the
    * data survives too. */
  def saveCatalog(dir: String): Unit = synchronized {
    val base = new java.io.File(dir)
    base.mkdirs()
    val manifest = frags.map { case ((db, nm), df) =>
      df.write.mode("overwrite").parquet(s"$dir/$db.$nm.parquet")
      s"$db\t$nm\t${fragSizes.getOrElse((db, nm), -1L)}"
    }.mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/MANIFEST"),
      dbs.map(d => s"DB\t$d").mkString("\n") + "\n" + manifest)
  }

  /** Restore a catalog previously written by [[saveCatalog]]. */
  def loadCatalog(dir: String): Unit = synchronized {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/MANIFEST"))
    lines.forEach { line =>
      line.split('\t') match {
        case Array("DB", d) => dbs += d
        case Array(db, nm, size) =>
          val df = spark.read.parquet(s"$dir/$db.$nm.parquet")
            .persist(StorageLevel.MEMORY_AND_DISK)
          frags((db, nm)) = df
          fragSizes((db, nm)) = size.toLong
        case _ =>
      }
    }
  }

  final class Session private[engine] (server: IoServer) {
    private var currentDb: String = "default"
    private var lastResultSet: Option[DataFrame] = None
    /** Open 2-phase create_frag statement: (db, frag, columns). */
    private var openFrag: Option[(String, String, Seq[String])] = None
    private val pendingRows = mutable.Buffer[Seq[Any]]()

    def useDb(name: String): Unit = {
      if (!server.hasDb(name)) throw new IllegalArgumentException(s"no db $name")
      currentDb = name
    }

    /** Device selected for operations (oph_io_server_thread.h:75-83:
      * the UD frame carries a device name stored in thread state; every
      * statement then runs against it). This engine maps exactly ONE
      * backend — Spark's own memory/disk management replaces the
      * reference's iostorage device plug-ins — so MEMORY (any case; ""
      * means the default) is accepted and anything else errors clearly
      * instead of silently running on a device that does not exist. */
    private var currentDevice: String = "MEMORY"

    def useDevice(name: String): Unit = {
      val d = if (name == null || name.isEmpty) "MEMORY" else name.toUpperCase
      if (d != "MEMORY") throw new IllegalArgumentException(
        s"device '$name' unsupported: this engine maps only MEMORY")
      currentDevice = d
    }

    def device: String = currentDevice

    def lastResult: Option[DataFrame] = lastResultSet

    /** Main entry — the EXEC_QUERY path (oph_io_server_query.c:37-536).
      * `binds` carries ?N prepared-statement args (1-based). */
    def execute(query: String, binds: Seq[Any] = Nil): Option[DataFrame] = {
      val q = QueryParser.parse(query)
      q.operation match {
        case "create_database" => server.createDb(q("db_name")); None
        case "drop_database" =>
          server.dropDb(q("db_name"))
          if (currentDb == q("db_name")) currentDb = "default"
          None
        case "create_frag" => runCreateFrag(q); None
        case "drop_frag" =>
          val (db, nm) = splitName(q("frag_name")); server.dropFrag(db, nm); None
        // the _file/_esdm CTAS variants (oph_io_server_query.c:72-105) are
        // the same pipeline here: an @path FROM entry loads through the
        // DSv2 reader (buildSelect), ESDM's read-stream reduction rides
        // as sub_operation/sub_args. Accept the reference's names.
        case "create_frag_select" | "create_frag_select_file" |
             "create_frag_select_esdm" => runCtas(q, binds); None
        // direct bulk load, no select (oph_io_server_query.c:341-375):
        // read @path → register as a fragment under frag_name
        case "file_import" | "esdm_import" => runFileImport(q); None
        case "select" =>
          val r = runSelect(q, binds)
          lastResultSet.foreach(_.unpersist()) // drop the superseded page cache
          lastResultSet = Some(r)
          Some(r)
        case "insert" => runInsert(q, binds, multi = false); None
        case "multi_insert" => runInsert(q, binds, multi = true); None
        case "random_import" => runRandomImport(q); None
        case "function" => runProcedure(q)
        case op => throw new IllegalArgumentException(s"unknown operation: $op")
      }
    }

    private def splitName(n: String): (String, String) = n.split('.') match {
      case Array(db, f) => (db, f)
      case Array(f) => (currentDb, f)
      case _ => throw new IllegalArgumentException(s"bad fragment name: $n")
    }

    // -- create_frag (two-phase CREATE TABLE; only 2-column tables in the
    //    reference — oph_io_server_query_manager.h:80; we keep the shape
    //    but allow n columns) --
    private def runCreateFrag(q: ParsedQuery): Unit = {
      val (db, nm) = splitName(q("frag_name"))
      val names = q.multi("column_name")
      openFrag = Some((db, nm, names))
      pendingRows.clear()
    }

    // -- insert / multi_insert (oph_io_server_query_engine.c:387-614):
    //    buffered until final_statement=yes (or immediately for insert) --
    private def runInsert(q: ParsedQuery, binds: Seq[Any], multi: Boolean): Unit = {
      val (db, nm, cols) = openFrag.getOrElse(
        throw new IllegalStateException("insert without open create_frag"))
      val fields = q.multi("field")
      require(fields == cols, s"insert fields $fields != declared $cols")
      val values = q.multi("value").map(parseValue(_, binds))
      val rows = values.grouped(cols.size).toSeq
      pendingRows ++= rows
      // chunked prepared-statement runs (tot_run/curr_run,
      // oph_io_server_thread.h:60-66): commit on the last run
      val runFinal = (q.get("tot_run"), q.get("curr_run")) match {
        case (Some(t), Some(c)) => c.toLong >= t.toLong
        case _ => true
      }
      val explicitFinal = q.get("final_statement").map(_.equalsIgnoreCase("yes"))
      val isFinal =
        if (!multi) runFinal
        else runFinal && explicitFinal.getOrElse(q.get("tot_run").isDefined)
      if (isFinal) {
        import scala.jdk.CollectionConverters._
        val schema = inferSchema(cols, pendingRows.head)
        val built = spark.createDataFrame(
          pendingRows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
        val zip = isCompressed(q) &&
          schema.fieldNames.contains("measure") &&
          schema("measure").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
        val df = (if (zip) deflateMeasure(built) else built)
          .persist(StorageLevel.MEMORY_AND_DISK)
        Engine.materialize(df)
        server.putFrag(db, nm, df, pendingRows.size.toLong, compressed = zip)
        openFrag = None
        pendingRows.clear()
      }
    }

    private def parseValue(v: String, binds: Seq[Any]): Any = {
      val t = v.trim
      if (t.startsWith("?")) binds(t.drop(1).toInt - 1)
      else if (t.startsWith("'") && t.endsWith("'")) t.substring(1, t.length - 1)
      else if (t.matches("[+-]?\\d+")) t.toLong
      else t.toDouble
    }

    private def inferSchema(cols: Seq[String], row: Seq[Any]) = {
      import org.apache.spark.sql.types._
      StructType(cols.zip(row).map { case (c, v) =>
        val dt = v match {
          case _: Long | _: Int => LongType
          case _: Double | _: Float => DoubleType
          case _: String => StringType
          case _: Array[Byte] => BinaryType
          case _: Seq[_] => ArrayType(DoubleType)
          case o => throw new IllegalArgumentException(s"value type ${o.getClass}")
        }
        StructField(c, dt)
      })
    }

    // -- SELECT / CTAS core: FROM → WHERE → GROUP BY → projection →
    //    ORDER → LIMIT (the fixed pipeline of
    //    oph_io_server_query_engine.c:258-385, made declarative) --
    private def buildSelect(q: ParsedQuery, binds: Seq[Any]): DataFrame = {
      val froms = q.multi("from")
      val aliases = q.multi("from_alias")
      require(froms.nonEmpty, "FROM required")
      // '@path' FROM entries load NetCDF directly (the reference's
      // create_frag_select_file, oph_io_server_query_engine.c:244-249);
      // src_path-style options ride on the query (measure, explicit,
      // dim_start/dim_end — oph_io_server_query_blocks.c:1085-1410)
      val dfs = froms.map { f =>
        if (f.equalsIgnoreCase("@info_system")) {
          // information-schema compat keyword (§2.8,
          // oph_query_engine_language.h:110-114)
          import spark.implicits._
          Seq((1L, org.apache.spark.SPARK_VERSION, currentDb))
            .toDF("id_dim", "version", "current_db")
        } else if (f.equalsIgnoreCase("@tot_table_size")) {
          import spark.implicits._
          val total = server.fragmentNames.map { case (d, nm) =>
            server.fragSize(d, nm)
          }.sum
          Seq((1L, total)).toDF("id_dim", "tot_table_size")
        } else if (f.equalsIgnoreCase("@function_table")) {
          import spark.implicits._
          graft.dialect.ExprCompiler.registeredFunctions.zipWithIndex
            .map { case (fn, i) => (i + 1L, fn) }
            .toDF("id_dim", "function_name")
        } else if (f.equalsIgnoreCase("@info_system_table")) {
          // per-fragment information schema: one row per stored fragment
          // (oph_query_engine_language.h:112 — declared by the reference's
          // grammar; never dispatched there, so the row shape follows the
          // sibling @tot_table_size/@function_table keywords)
          import spark.implicits._
          server.fragmentNames.zipWithIndex.map { case ((d, nm), i) =>
            (i + 1L, d, nm, server.fragSize(d, nm))
          }.toDF("id_dim", "db_name", "frag_name", "frag_size")
        } else if (f.equalsIgnoreCase("@function_fields")) {
          // fields of the UDF registry table (mysql.func shape: the
          // reference's primitives install as MySQL UDFs —
          // oph_query_engine_language.h:113)
          import spark.implicits._
          Seq((1L, "name"), (2L, "ret"), (3L, "dl"), (4L, "type"))
            .toDF("id_dim", "field_name")
        } else if (f.startsWith("@")) {
          var r = spark.read.format("graft.sources.NetCDFSource")
            .option("path", f.drop(1))
            .option("var", q.get("measure").getOrElse("measure"))
          Seq("explicit", "dim_start", "dim_end", "key_start", "partitions",
        "element_type", "dim_index", "cf_unpack")
            .foreach(k => q.get(k).foreach(v => r = r.option(k, v)))
          val loaded = r.load()
          // read-stream reduction folded into the load (the ESDM
          // sub_operation/sub_args path, oph_io_server_esdm.c:1890-1899 +
          // oph_query_engine_language.h:90-91): reduce the implicit array
          // BEFORE materialization so only the reduced data flows on
          q.get("sub_operation") match {
            case Some(op) =>
              val bs = q.get("sub_args").map(_.toInt).getOrElse(Int.MaxValue)
              loaded.withColumn("measure",
                graft.functions.ArrayPrimitives.oph_reduce(col("measure"), op, bs))
            case None => loaded
          }
        } else { val (db, nm) = splitName(f); server.getFrag(db, nm) }
      }

      // multi-FROM = the reference's positional aligned merge on dense ids
      // (oph_io_server_query_blocks.c:845-1082) → equi-join on id_dim
      val joined = dfs match {
        case Seq(one) => one
        case many =>
          require(q.get("where").isDefined,
            "WHERE is mandatory with multiple FROM tables") // manager.h:93
          // disambiguate non-key columns per table (alias_i prefix) in ONE
          // projection per table — a withColumnRenamed fold would stack
          // O(cols) nested Projects for Catalyst to collapse
          val renamed = many.zipWithIndex.map { case (df, i) =>
            val al = aliases.lift(i).filter(_.nonEmpty).getOrElse(s"t${i + 1}")
            df.select(df.columns.map { cn =>
              if (cn == "id_dim") col(cn) else col(cn).as(s"$al.$cn")
            }.toIndexedSeq: _*)
          }
          renamed.reduce(_.join(_, "id_dim"))
      }

      val bind: Int => Column = i => lit(binds(i - 1))
      // alias-qualified names carry a literal dot → backtick-quote them
      def resolve(df: DataFrame)(n: String): Column =
        if (n.contains('.')) df(s"`$n`") else df(n)

      val afterWhere = q.get("where") match {
        case Some(w) =>
          val ast = ExprParser.parse(w)
          if (server.compatStrict) {
            // only_id=1: WHERE variables restricted to id columns
            def vars(a: ExprParser.Ast): Seq[String] = a match {
              case ExprParser.Var(n) => Seq(n)
              case ExprParser.Un(_, e) => vars(e)
              case ExprParser.Bin(_, l, r) => vars(l) ++ vars(r)
              case ExprParser.Fn(_, as) => as.flatMap(vars)
              case _ => Nil
            }
            val bad = vars(ast).filterNot(v =>
              v == "id_dim" || v.endsWith(".id_dim"))
            require(bad.isEmpty,
              s"compat mode: WHERE may only reference id columns, got $bad")
          }
          joined.filter(ExprCompiler.compile(ast, resolve(joined), bind).bool)
        case None => joined
      }

      // field=* expands to all columns of the (joined) input
      val fields = q.multi("field") match {
        case Seq("*") => joined.columns.toSeq
        case fs => fs
      }
      val aliasesOut = q.multi("field_alias") match {
        case Nil => q.multi("select_alias")
        case a => a
      }
      val fieldAsts = fields.map(ExprParser.parse)
      val outNames = fields.zipWithIndex.map { case (f, i) =>
        aliasesOut.lift(i).filter(_.nonEmpty).getOrElse(f.trim)
      }
      // generator fields (oph_expand:81 — the one primitive whose output
      // is rows): routed through posexplode below, invalid under GROUP BY
      val expandIdxs = fieldAsts.zipWithIndex.collect {
        case (ast, i) if ExprCompiler.expandArg(ast).isDefined => i
      }

      require(expandIdxs.isEmpty ||
          (q.get("group").isEmpty && !fieldAsts.exists(ExprCompiler.isAggregate)),
        "oph_expand cannot be combined with GROUP BY or aggregate fields")
      val grouped = q.get("group") match {
        case Some(g) =>
          // single group expression (oph_io_server_query_manager.h:102);
          // non-aggregate fields take the group's first row in id order
          // (first-row rule, oph_io_server_query_blocks.c:2438-2458)
          val gast = ExprParser.parse(g)
          val gcol = ExprCompiler.compile(gast, resolve(afterWhere), bind).num
          val aggs = fieldAsts.zip(outNames).map { case (ast, nm) =>
            if (ExprCompiler.isAggregate(ast))
              ExprCompiler.compile(ast, resolve(afterWhere), bind).num.as(nm)
            else
              min_by(ExprCompiler.compile(ast, resolve(afterWhere), bind).num,
                afterWhere("id_dim")).as(nm)
          }
          afterWhere.groupBy(gcol.as("__group"))
            .agg(aggs.head, aggs.tail: _*)
            .drop("__group")
        case None if fieldAsts.exists(ExprCompiler.isAggregate) =>
          // implicit total aggregation (blocks.c:2557-2671)
          val aggs = fieldAsts.zip(outNames).map { case (ast, nm) =>
            if (ExprCompiler.isAggregate(ast))
              ExprCompiler.compile(ast, resolve(afterWhere), bind).num.as(nm)
            else min_by(ExprCompiler.compile(ast, resolve(afterWhere), bind).num,
              afterWhere("id_dim")).as(nm)
          }
          afterWhere.agg(aggs.head, aggs.tail: _*)
        case None if expandIdxs.nonEmpty =>
          // oph_expand route (dimension promotion, the a12 shape): one
          // output row per array element; scalar fields are carried per
          // input row; id_dim is re-keyed 1..N in (input id, position)
          // order via the scalable zipWithIndex numbering (no window)
          require(expandIdxs.size == 1,
            "exactly one oph_expand field per select")
          require(q.get("sequential_id").isEmpty,
            "oph_expand already re-keys id_dim; sequential_id is redundant")
          // the route's internals use __-prefixed columns (__oid, __arr,
          // __pos, __exval): reject user aliases in that namespace
          // instead of relocating the collision into an internal error
          outNames.filter(_.startsWith("__")).foreach { nm =>
            throw new IllegalArgumentException(
              s"field alias '$nm' collides with the expand route's " +
                "reserved __-prefixed namespace")
          }
          val exIdx = expandIdxs.head
          val exName = outNames(exIdx)
          // the route re-keys id_dim itself: an expand field aliased
          // 'id_dim' would duplicate the column and surface as an opaque
          // ambiguous-reference AnalysisException — reject descriptively,
          // and likewise duplicate output aliases (same failure mode)
          require(exName != "id_dim",
            "expand field alias 'id_dim' collides with the re-keyed row id " +
              "produced by oph_expand; choose another alias")
          outNames.diff(outNames.distinct).distinct.foreach { nm =>
            throw new IllegalArgumentException(
              s"duplicate field alias '$nm' in an oph_expand select")
          }
          val inner = ExprCompiler.compile(
            ExprCompiler.expandArg(fieldAsts(exIdx)).get,
            resolve(afterWhere), bind).num
          val others = fieldAsts.zip(outNames).zipWithIndex
            .filter { case (_, i) => i != exIdx }
            .collect { case ((ast, nm), _) if nm != "id_dim" =>
              ExprCompiler.compile(ast, resolve(afterWhere), bind).num.as(nm)
            }
          val base = afterWhere.select(
            (afterWhere("id_dim").as("__oid") +: others) :+ inner.as("__arr"): _*)
          val otherNames = base.columns.filter(n => n != "__oid" && n != "__arr").toSeq
          // generator outputs take RESERVED dunder names: a user field
          // aliased 'pos' or 'col' must not collide with posexplode's
          // defaults (ambiguous-reference errors instead of results)
          val exploded = base.select(
            (col("__oid") +: otherNames.map(n => col(s"`$n`"))) :+
              posexplode(col("__arr")).as(Seq("__pos", "__exval")): _*)
            .withColumnRenamed("__exval", exName)
          SequentialId.withSequentialId(
              exploded, "id_dim", Seq(col("__oid"), col("__pos")))
            .drop("__oid", "__pos")
            .select(outNames.map(n =>
              if (n.contains('.')) col(s"`$n`") else col(n)): _*)
        case None =>
          val seqIdStart = q.get("sequential_id").map(_.toLong)
          val cols = fieldAsts.zip(outNames).map { case (ast, nm) =>
            ExprCompiler.compile(ast, resolve(afterWhere), bind).num.as(nm)
          }
          seqIdStart match {
            case Some(start) =>
              // oph_subset re-keying (procedures.c:188-196): the generated
              // key start..start+n-1 in id order SUBSTITUTES id_dim in the
              // output; scalable via zipWithIndex (no global window)
              val nonId = fieldAsts.zip(outNames)
                .filter { case (_, nm) => nm != "id_dim" }
                .map { case (ast, nm) =>
                  ExprCompiler.compile(ast, resolve(afterWhere), bind).num.as(nm)
                }
              val base = afterWhere.select(
                (afterWhere("id_dim").as("__oid") +: nonId): _*)
              SequentialId.withSequentialId(base, "id_dim",
                  Seq(col("__oid")), start)
                .drop("__oid")
                .select(outNames.map(n =>
                  if (n.contains('.')) col(s"`$n`") else col(n)): _*)
            case None => afterWhere.select(cols: _*)
          }
      }

      // ORDER BY: reference = single numeric col, asc-only insertion sort
      // (blocks.c:747-817); generalized to any col, asc|desc
      val ordered = q.get("order") match {
        case Some(o) =>
          val dir = q.get("order_dir").getOrElse("ASC")
          if (dir.equalsIgnoreCase("DESC") && server.compatStrict) {
            // the reference IGNORES non-ASC with a warning
            System.err.println(s"[graft] compat mode: order_dir=$dir ignored (asc only)")
            grouped.orderBy(col(o))
          } else if (dir.equalsIgnoreCase("DESC")) grouped.orderBy(col(o).desc)
          else grouped.orderBy(col(o))
        case None => grouped
      }

      // LIMIT / OFFSET (blocks.c:699-745): limit=N or limit=OFF|N
      q.get("limit") match {
        case Some(l) =>
          val parts = QueryParser.splitMulti(l)
          val (off, n) = parts match {
            case Seq(n0) => (0L, n0.toLong)
            case Seq(o0, n0) => (o0.toLong, n0.toLong)
            case _ => throw new IllegalArgumentException(s"bad limit: $l")
          }
          ordered.offset(math.max(off, 0L).toInt).limit(math.max(n, 0L).toInt)
        case None => ordered
      }
    }

    private def runSelect(q: ParsedQuery, binds: Seq[Any]): DataFrame = {
      // persist + materialize: the guard's fill IS the result the caller
      // pages over, so the plan runs once. The reference stores the
      // result set eagerly too (oph_io_server_query.c select path).
      val r = buildSelect(q, binds).persist(StorageLevel.MEMORY_AND_DISK)
      if (Engine.materialize(r) > maxResultRows) {
        r.unpersist()
        throw new IllegalArgumentException(
          s"result exceeds maxResultRows=$maxResultRows")
      }
      r
    }

    private def runCtas(q: ParsedQuery, binds: Seq[Any]): Unit = {
      val (db, nm) = splitName(q("frag_name"))
      if (server.compatStrict)
        require(q.multi("field").size == 2,
          "compat mode: CTAS output must have exactly 2 columns (id_dim, measure)")
      val built = buildSelect(q, binds)
      val zip = isCompressed(q) && built.schema.fieldNames.contains("measure") &&
        built.schema("measure").dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      val df = (if (zip) deflateMeasure(built) else built)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = Engine.materialize(df) // the reference stores eagerly
      server.putFrag(db, nm, df, n, compressed = zip)
    }

    // -- file_import / esdm_import (oph_io_server_query.c:341-375,
    //    reader oph_io_server_nc.c:2716-3243): direct bulk load of a
    //    NetCDF path into a fragment, no SELECT. ESDM's read-stream
    //    reduction (sub_operation/sub_args) folds into the scan. --
    private def runFileImport(q: ParsedQuery): Unit = {
      val (db, nm) = splitName(q("frag_name"))
      val path = q.get("src_path").orElse(q.get("path")).getOrElse(
        throw new IllegalArgumentException("src_path required"))
      var r = spark.read.format("graft.sources.NetCDFSource")
        .option("path", path.stripPrefix("@"))
        .option("var", q.get("measure").getOrElse("measure"))
      Seq("explicit", "dim_start", "dim_end", "key_start", "partitions",
        "element_type", "dim_index", "cf_unpack")
        .foreach(k => q.get(k).foreach(v => r = r.option(k, v)))
      val loaded = r.load()
      val reduced = q.get("sub_operation") match {
        case Some(op) =>
          val bs = q.get("sub_args").map(_.toInt).getOrElse(Int.MaxValue)
          loaded.withColumn("measure",
            graft.functions.ArrayPrimitives.oph_reduce(col("measure"), op, bs))
        case None => loaded
      }
      val zip = isCompressed(q)
      val stored = if (zip) deflateMeasure(reduced) else reduced
      val df = stored.persist(StorageLevel.MEMORY_AND_DISK)
      server.putFrag(db, nm, df, Engine.materialize(df), compressed = zip)
    }

    // -- compressed=yes (oph_query_engine_language.h:82): the stored
    //    fragment keeps zlib-deflated packed-double cells; getFrag
    //    inflates on read --
    private def isCompressed(q: ParsedQuery): Boolean =
      q.get("compressed").exists(_.equalsIgnoreCase("yes"))
    private def deflateMeasure(df: DataFrame): DataFrame =
      df.withColumn("measure", graft.sources.BinaryCodec.oph_compress(
        graft.sources.BinaryCodec.oph_to_bin(col("measure"))))

    // -- random_import (oph_io_server_query_engine.c:686-810): synthetic
    //    fragment; algorithm=default (uniform[0,1000)) or temperatures
    //    (AR(1): x_m = 0.9 x_{m-1} + 0.1 (40u - 5),
    //    oph_server_utility.c:79-335) --
    private def runRandomImport(q: ParsedQuery): Unit = {
      val (db, nm) = splitName(q("frag_name"))
      val nrows = q("nrows").toLong
      val nelems = q.get("array_length").map(_.toInt).getOrElse(1)
      val algo = q.get("algorithm").getOrElse("default")
      // deterministic, splittable uniform from (row, elem) — same on any
      // cluster layout (splitmix-style integer mix via md5-free arithmetic).
      // The seed is reduced mod 2^31-1 before the * 69069 step, so the
      // product fits a long at any nrows; for non-negative inputs the
      // values equal those of the unreduced form.
      def u(row: Column, j: Column): Column = {
        val seed = pmod(row * 2654435761L + j * 40503L + 12345L, lit(2147483647L))
        val h = pmod(seed * 69069L + 1234567L, lit(2147483647L))
        h.cast("double") / 2147483647.0
      }
      val base = spark.range(1, nrows + 1).toDF("id_dim")
      val measure = algo match {
        case "default" =>
          transform(sequence(lit(1), lit(nelems)),
            j => u(col("id_dim"), j) * 1000.0)
        case "temperatures" =>
          // AR(1) prefix recurrence via aggregate over element index
          aggregate(sequence(lit(1), lit(nelems)),
            array().cast("array<double>"),
            (acc, j) => {
              val prev = when(size(acc) === 0, lit(20.0) * u(col("id_dim"), lit(0)))
                .otherwise(element_at(acc, -1))
              concat(acc, array(prev * 0.9 +
                lit(0.1) * (u(col("id_dim"), j) * 40.0 - 5.0)))
            })
        case o => throw new IllegalArgumentException(s"unknown algorithm: $o")
      }
      val zip = isCompressed(q)
      val built = base.withColumn("measure", measure)
      val df = (if (zip) deflateMeasure(built) else built)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Engine.materialize(df)
      server.putFrag(db, nm, df, nrows, compressed = zip)
    }

    // -- stored procedures (oph_io_server_query_procedures.c) --
    private def runProcedure(q: ParsedQuery): Option[DataFrame] = {
      val args = q.multi("function_args")
      q("function_name").toLowerCase match {
        case "oph_subset" =>
          // rewrites itself into create_frag_select with sequential_id
          // (procedures.c:37-218); multiple fields are ':'-separated
          // inside the single fields arg (':' inside quotes/parens —
          // e.g. subset strings — is protected)
          val Seq(inFrag, idStart, fields, outFrag, rest @ _*) = args: @unchecked
          val where = rest.headOption.filter(_.nonEmpty)
          val fieldSeq = QueryParser.splitMultiOn(fields, ':')
          // output columns take the reference's canonical fragment schema
          // (id_dim, measure — oph_io_server_query_manager.h:80)
          val aliases = fieldSeq.zipWithIndex.map { case (f, i) =>
            if (f.trim.equalsIgnoreCase("id_dim")) "id_dim"
            else if (fieldSeq.size == 2) "measure" else s"measure$i"
          }
          val ctas = s"operation=create_frag_select;frag_name=$outFrag;" +
            s"from=$inFrag;field=${fieldSeq.mkString("|")};" +
            s"field_alias=${aliases.mkString("|")};sequential_id=$idStart;" +
            where.map(w => s"where=$w;").getOrElse("")
          execute(ctas)
        case "oph_export" =>
          val (db, nm) = splitName(args.head)
          val frag = server.getFrag(db, nm)
          // the result set is the fragment ordered by id_dim; the writers
          // take it unsorted (ExportScan: one stats job, one write pass).
          // Optional second arg: write the fragment to a file (feeds
          // OPH_EXPORTNC); optional third arg selects the container:
          // classic (CDF-1, default) | cdf5 | netcdf4 (HDF5) |
          // zarr (v2 store) | zarr3 (v3 store); optional fourth arg:
          // rows per chunk for the chunked stores. The Zarr formats and
          // netcdf4-dist export DISTRIBUTED — executors write the
          // chunks, the driver only the metadata (ZarrExport /
          // HDF5.writeDoubleVarDistributed); classic/cdf5/netcdf4 are
          // sequential single-file writes and stay driver-side
          // (streamed in id order by ExportScan.ordered, memory-bounded),
          // matching the reference's own result-paging semantics.
          val r = frag.orderBy("id_dim")
          args.lift(1).filter(_.nonEmpty).foreach { path =>
            val rowsPerChunk = args.lift(3).filter(_.nonEmpty)
              .map(_.toInt).getOrElse(0)
            val container = args.lift(2).filter(_.nonEmpty).getOrElse("classic")
            // netcdf4-dist-<fa|bt2|ea>[-z]: the HDF5 chunk index it writes
            def chunkIndex = container.split('-').lift(2).flatMap(Map(
              "fa" -> "fixedarray", "bt2" -> "btree2", "ea" -> "extarray").get)
            container match {
              case "zarr" =>
                graft.sources.ZarrExport.writeDistributed(frag, "id_dim",
                  "measure", path, "measure", v3 = false, rowsPerChunk)
              case "zarr3" =>
                graft.sources.ZarrExport.writeDistributed(frag, "id_dim",
                  "measure", path, "measure", v3 = true, rowsPerChunk)
              case "zarr3-sharded" =>
                // fifth arg = inner chunks per shard (object count /= it)
                val chunksPerShard = args.lift(4).filter(_.nonEmpty)
                  .map(_.toInt).getOrElse(8)
                graft.sources.ZarrExport.writeDistributedSharded(frag, "id_dim",
                  "measure", path, "measure",
                  if (rowsPerChunk > 0) rowsPerChunk else 512, chunksPerShard)
              case "netcdf4-dist" | "netcdf4-dist-fa" | "netcdf4-dist-bt2"
                 | "netcdf4-dist-ea" =>
                // executor-parallel HDF5: unfiltered fixed-size chunks
                // put chunk k at a computable offset, so the driver
                // writes only the metadata head — for the -fa/-bt2
                // variants including the complete fixed-array /
                // v2-B-tree chunk index (the layouts HDF5 1.10+ itself
                // writes for bounded dims) — and executors write their
                // chunks at disjoint ranges (needs a shared POSIX fs;
                // object stores take the zarr paths above)
                graft.sources.HDF5.writeDoubleVarDistributed(frag, "id_dim",
                  "measure", path, "measure", rowsPerChunk,
                  chunkIndex.getOrElse("implicit"))
              case "netcdf4-dist-fa-z" | "netcdf4-dist-bt2-z"
                 | "netcdf4-dist-ea-z" =>
                // FILTERED executor-parallel HDF5 (shuffle + deflate +
                // fletcher32): compressed chunk sizes are data-dependent,
                // so executors filter + spill + report sizes, the driver
                // prefix-sums offsets into the filtered chunk index, and
                // executors place blobs at their assigned ranges — the
                // two-phase collective write
                graft.sources.HDF5.writeDoubleVarDistributedFiltered(frag,
                  "id_dim", "measure", path, "measure", rowsPerChunk, chunkIndex.get)
              case fmt =>
                // single-file container: bytes pass through one writer
                // in id order, driver memory bounded by one fetch
                val (n, m, rows) =
                  graft.sources.ExportScan.ordered(frag, "id_dim", "measure")
                val dims = Seq("id_dim" -> n, "elem" -> m)
                fmt match {
                  case "classic" =>
                    graft.sources.NetCDF3.writeDoubleVarStreamed(path, dims,
                      "measure", rows)
                  case "cdf5" =>
                    graft.sources.NetCDF3.writeDoubleVarStreamed(path, dims,
                      "measure", rows, version = 5)
                  case "netcdf4" =>
                    graft.sources.HDF5.writeDoubleVarStreamed(path, dims,
                      "measure", rows)
                  case o => throw new IllegalArgumentException(
                    s"unknown export format: $o")
                }
            }
          }
          lastResultSet = Some(r)
          Some(r)
        case "oph_size" =>
          val total = args.map { f =>
            val (db, nm) = splitName(f); server.fragSize(db, nm)
          }.sum
          import spark.implicits._
          val r = Seq(total).toDF("frag_size")
          lastResultSet = Some(r)
          Some(r)
        case o => throw new IllegalArgumentException(s"unknown procedure: $o")
      }
    }
  }
}
