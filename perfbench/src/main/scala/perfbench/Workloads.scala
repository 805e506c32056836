package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation: a query or a statement. `kind` groups samples
  * for per-kind medians (the query name, or the statement type). */
final case class Op(kind: String, run: Tracer => Unit)

/** A workload: session-scoped preparation (timed as set-up), an
  * untimed warm-up that also fixes the reference results, and passes of
  * operations in seeded order. An operation throws on a wrong result. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  /** Sessions the operations run on (for listener installation). */
  def sessions: Seq[SparkSession]
  /** Releases what [[prepare]] created. */
  def teardown(): Unit = ()
  /** Traced runs only: samples state after each operation. */
  def afterOp(): Unit = ()
  def warmup(tracer: Tracer): Seq[(String, String)]
  def pass(rng: java.util.Random): Seq[Op]
  /** Checks after the measured window; returns failures. */
  def finish(): Seq[String] = Nil
  /** Workload-specific per-layer metrics. */
  def layerMetrics(samples: Seq[Sample]): Map[String, Double] = Map.empty
  /** Oracle SQL for results the warm-up dumped, by dump name. */
  def oracles: Map[String, String] = Map.empty
  /** Temp-root entries that hold the workload's live state (not
    * residue). */
  def owns(name: String): Boolean = false
}

object Digest {
  /** Order-independent digest of a result: row count plus the sum of
    * per-row 64-bit hashes of each row's rendered cells. */
  def of(rows: Array[Row]): (Long, Long) = {
    var sum = 0L
    rows.foreach { r =>
      val s = render(r)
      val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val l = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      sum += (h.toLong << 32) ^ (l.toLong & 0xffffffffL)
    }
    (rows.length.toLong, sum)
  }

  def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}

/** Analytic workloads: a fixed list of the engine's named queries
  * (`graft.SparkEntry.queries`) over generated tables in `dataDir`;
  * set-up opens the `tables` they read.
  *
  * Each operation calls the query's builder, executes the returned
  * frame with `collect()` (the rows a user receives), and checks the
  * rows' digest against the reference the warm-up fixed. The warm-up
  * writes every query's result to `dumpDir/<name>` so the caller can
  * compare it with the DuckDB oracle. `artifactQueries` are the queries
  * whose first call builds an ArtifactStore artifact; set-up calls their
  * builders once so the builds count in set-up, not in the first
  * measured pass.
  */
final class QueryWorkload(names: Seq[String], tables: Seq[String],
                          artifactQueries: Seq[String], dataDir: String,
                          dumpDir: String) extends Workload {
  private var spark: SparkSession = _
  private val reference = mutable.Map.empty[String, (Long, Long)]

  private def build(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dataDir)

  def sessions: Seq[SparkSession] = Seq(spark)

  private val artifactMs = mutable.ArrayBuffer.empty[Double]

  def prepare(s: SparkSession): Unit = {
    spark = s
    tables.foreach(t => graft.Engine.table(spark, dataDir, t).schema)
    val t0 = System.nanoTime()
    artifactQueries.foreach(build)
    artifactMs += (System.nanoTime() - t0) / 1e6
  }

  override def layerMetrics(samples: Seq[Sample]): Map[String, Double] =
    // the first prepare is the cold one, before the timed set-ups
    Map("artifacts.build_s" -> Stats.median(artifactMs.tail.toSeq) / 1000)

  override def oracles: Map[String, String] =
    names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  def warmup(tracer: Tracer): Seq[(String, String)] = names.flatMap { n =>
    try {
      val out = s"$dumpDir/$n"
      build(n).write.mode("overwrite").parquet(out)
      reference(n) = Digest.of(spark.read.parquet(out).collect())
      None
    } catch { case e: Throwable => Some(n -> Main.describe(e)) }
  }

  def pass(rng: java.util.Random): Seq[Op] =
    Main.shuffle(names, rng).map { n =>
      Op(n, t => {
        val df = t.span("build")(build(n))
        val rows = t.span("execute")(df.collect())
        t.span("check") {
          val d = Digest.of(rows)
          val want = reference.getOrElse(n,
            throw new IllegalStateException(s"$n has no reference result"))
          if (d != want) throw new IllegalStateException(
            s"$n: result digest $d differs from the reference $want")
        }
      })
    }
}

/** The serving half of HTAP: MySQL statement text through
  * `graft.sources.StatementRunner` on a statement session, against one
  * `ENGINE=TIANMU` table with a primary key.
  *
  * Set-up creates the table and loads `rows0` rows with LOAD DATA. Each
  * pass is one round of a fixed statement mix (point SELECT by key,
  * range aggregates over base and delta, UPDATE and DELETE by key, an
  * upsert, INSERT of 10 rows, LOAD DATA of 200 rows), closed by
  * OPTIMIZE TABLE. The reads and the writes' positions among them are
  * seeded; the writes keep the order of [[StatementWorkload.Writes]], so
  * the store holds the same delta before each write in every pass and a
  * statement's cost does not depend on which writes the seed put before
  * it. The generator keeps its own model of the table: every SELECT is
  * checked against it as it runs, and the whole table is compared with
  * it after the measured window.
  */
final class StatementWorkload(seed: Long, rows0: Int, ioDir: String,
                              storeParent: Path) extends Workload {
  import StatementWorkload._

  private var session: SparkSession = _
  private var runner: graft.sources.StatementRunner = _
  private val model = mutable.HashMap.empty[Long, KvRow]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val keyPos = mutable.HashMap.empty[Long, Int]
  private var nextId = 0L
  private var files = 0
  private val rng = new java.util.Random(seed ^ 0x7f4a7c15L)
  private val initialCsv = Paths.get(ioDir, "initial.csv")

  // bytes of user data written by statements (the CSV form of every row
  // inserted, loaded or updated)
  private var userBytes = 0L

  Files.createDirectories(Paths.get(ioDir))
  Files.write(initialCsv, csv((0L until rows0).map(genRow)).getBytes("UTF-8"))

  private def genRow(id: Long): KvRow =
    KvRow(id, (id % 97).toInt, 1 + rng.nextInt(1000),
      rng.nextInt(1000000).toLong, "t" + rng.nextInt(5000))

  private def csv(rows: Seq[KvRow]): String =
    rows.map(r => s"${r.id},${r.grp},${r.qty},${r.amount},${r.tag}\n").mkString

  private def put(r: KvRow): Unit = {
    if (!model.contains(r.id)) { keyPos(r.id) = keys.length; keys += r.id }
    model(r.id) = r
  }
  private def remove(id: Long): Unit = if (model.remove(id).isDefined) {
    val i = keyPos.remove(id).get
    val last = keys.remove(keys.length - 1)
    if (last != id) { keys(i) = last; keyPos(last) = i }
  }
  private def liveKey(): Long = keys(rng.nextInt(keys.length))
  private def freshRows(n: Int): Seq[KvRow] =
    (0 until n).map { _ => nextId += 1; genRow(nextId - 1) }
  private def values(rows: Seq[KvRow]): String = rows.map(r =>
    s"(${r.id}, ${r.grp}, ${r.qty}, ${r.amount}, '${r.tag}')").mkString(", ")

  def prepare(spark: SparkSession): Unit = {
    session = graft.sources.MtrParity.statementSession(spark)
    runner = new graft.sources.StatementRunner(session)
    runner.run(CreateTable)
    runner.run(s"LOAD DATA INFILE '$initialCsv' INTO TABLE $Table " +
      "FIELDS TERMINATED BY ','").collect()
    model.clear(); keys.clear(); keyPos.clear()
    Files.readAllLines(initialCsv).forEach { l =>
      val f = l.split(',')
      put(KvRow(f(0).toLong, f(1).toInt, f(2).toInt, f(3).toLong, f(4)))
    }
    nextId = rows0.toLong
  }

  def sessions: Seq[SparkSession] = Seq(session)

  override def teardown(): Unit = runner.run(s"DROP TABLE $Table")

  /** The table's DeltaStore directory. */
  override def owns(name: String): Boolean =
    name.startsWith(s"graft-create-$Table")

  def warmup(tracer: Tracer): Seq[(String, String)] = {
    val ops = pass(new java.util.Random(seed))
    ops.flatMap(op =>
      try { op.run(tracer); None }
      catch { case e: Throwable => Some(op.kind -> Main.describe(e)) })
  }

  private def stmt(t: Tracer, sql: String): Array[Row] =
    t.span("statement")(runner.run(sql).collect())

  /** The harness's own work around a statement: input files, the model
    * and the result check. */
  private def check[T](t: Tracer)(body: => T): T = t.span("check")(body)

  private def expect(what: String, got: Seq[Seq[String]],
                     want: Seq[Seq[String]]): Unit =
    if (got.sortBy(_.mkString(",")) != want.sortBy(_.mkString(",")))
      throw new IllegalStateException(
        s"$what returned ${got.take(3)} (${got.size} rows), " +
          s"the model says ${want.take(3)} (${want.size} rows)")

  private def cells(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(num))

  def pass(r: java.util.Random): Seq[Op] = {
    val reads = Seq.fill(8)("point_read") ++ Seq.fill(3)("fresh_agg")
    val writes = Writes.iterator
    val kinds = Main.shuffle(reads ++ Writes, r)
      .map(k => if (Writes.contains(k)) writes.next() else k)
    (kinds :+ "optimize").map(kind => Op(kind, t => kind match {
      case "point_read" =>
        val id = if (rng.nextInt(10) == 0) nextId + 1000 else liveKey()
        val got = stmt(t, s"SELECT id, grp, qty, amount, tag FROM $Table " +
          s"WHERE id = $id")
        check(t)(expect(s"point read of $id", cells(got),
          model.get(id).toSeq.map(_.cells)))
      case "fresh_agg" =>
        val lo = (rng.nextDouble() * nextId).toLong
        val hi = lo + RangeWidth
        val got = stmt(t, "SELECT COUNT(*) AS n, SUM(qty) AS q, " +
          s"SUM(amount) AS a FROM $Table WHERE id BETWEEN $lo AND $hi")
        check(t) {
          val in = model.valuesIterator.filter(v => v.id >= lo && v.id <= hi)
            .toSeq
          val want =
            if (in.isEmpty) Seq("0", "null", "null")
            else Seq(in.size.toString, in.map(_.qty.toLong).sum.toString,
              in.map(_.amount).sum.toString)
          expect(s"range aggregate [$lo, $hi]", cells(got), Seq(want))
        }
      case "insert" =>
        val rows = freshRows(10)
        stmt(t, s"INSERT INTO $Table (id, grp, qty, amount, tag) VALUES " +
          values(rows))
        check(t) { rows.foreach(put); userBytes += csv(rows).length }
      case "upsert" =>
        val old = Seq.fill(2)(liveKey()).distinct.map(model)
          .map(o => genRow(o.id).copy(grp = o.grp))
        val rows = old ++ freshRows(2)
        stmt(t, s"INSERT INTO $Table (id, grp, qty, amount, tag) VALUES " +
          s"${values(rows)} ON DUPLICATE KEY UPDATE " +
          "qty = qty + VALUES(qty), amount = VALUES(amount)")
        check(t) {
          rows.foreach { n => model.get(n.id) match {
            case Some(o) => put(o.copy(qty = o.qty + n.qty, amount = n.amount))
            case None => put(n)
          } }
          userBytes += csv(rows).length
        }
      case "update" =>
        val id = liveKey()
        stmt(t, s"UPDATE $Table SET qty = qty + 1, tag = 'u' WHERE id = $id")
        check(t) {
          val o = model(id)
          put(o.copy(qty = o.qty + 1, tag = "u")); userBytes += csv(Seq(o)).length
        }
      case "delete" =>
        val id = liveKey()
        stmt(t, s"DELETE FROM $Table WHERE id = $id")
        check(t)(remove(id))
      case "load" =>
        val rows = freshRows(LoadRows)
        files += 1
        val f = Paths.get(ioDir, s"batch-$files.csv")
        check(t)(Files.write(f, csv(rows).getBytes("UTF-8")))
        stmt(t, s"LOAD DATA INFILE '$f' INTO TABLE $Table " +
          "FIELDS TERMINATED BY ','")
        check(t) { rows.foreach(put); userBytes += csv(rows).length }
      case "optimize" =>
        stmt(t, s"OPTIMIZE TABLE $Table")
    }))
  }

  override def finish(): Seq[String] = {
    val got = cells(runner.run(
      s"SELECT id, grp, qty, amount, tag FROM $Table").collect())
    try { expect("final table", got, model.values.toSeq.map(_.cells)); Nil }
    catch { case e: Throwable => Seq(Main.describe(e)) }
  }

  // DeltaStore on-disk state, sampled after each operation of a traced
  // run: every file that appears or changes size counts as written.
  private val seen = mutable.HashMap.empty[Path, Long]
  private val bases = mutable.Set.empty[String]
  private var probed = false
  private var bytesWritten, userBytes0, storeBytes = 0L
  private var baseRewrites, deltaFilesMax = 0

  override def afterOp(): Unit = {
    import scala.jdk.CollectionConverters._
    val roots = Files.list(storeParent)
    val root = try roots.iterator().asScala
      .find(p => owns(p.getFileName.toString))
    finally roots.close()
    root.foreach { r =>
      val walk = Files.walk(r)
      val files = try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally walk.close()
      val top = Files.list(r)
      val now = try top.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("base-")).toSet
      finally top.close()
      if (probed) {
        bytesWritten += files.collect {
          case (f, n) if !seen.get(f).contains(n) => n }.sum
        baseRewrites += (now -- bases).size
      } else userBytes0 = userBytes
      probed = true
      seen.clear(); seen ++= files
      bases ++= now
      storeBytes = files.values.sum
      deltaFilesMax = math.max(deltaFilesMax, files.keys.count(f =>
        f.getParent.getFileName.toString == "delta" &&
          f.getFileName.toString.endsWith(".parquet")))
    }
  }

  override def layerMetrics(samples: Seq[Sample]): Map[String, Double] = {
    def p50(kinds: String*) =
      Stats.median(samples.filter(s => kinds.contains(s.kind)).map(_.wallMs))
    // LOAD DATA statements of the measured window (statement span when
    // traced, else the operation's wall)
    val loadMs = samples.filter(_.kind == "load")
      .map(s => s.layers.getOrElse("statement_ms", s.wallMs)).sum
    val rewriteMs = sampleStatements.map { sql =>
      Stats.median((1 to 50).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.MySqlDialect.rewrite(sql)
        (System.nanoTime() - t0) / 1e6
      })
    }
    val liveBytes = csv(model.values.toSeq).length.toDouble
    Map(
      "dialect.rewrite_ms" -> Stats.mean(rewriteMs),
      "deltastore.bytes_written_per_user_byte" ->
        (if (userBytes > userBytes0) bytesWritten.toDouble /
          (userBytes - userBytes0) else 0.0),
      "deltastore.base_rewrites" -> baseRewrites.toDouble,
      "deltastore.delta_files_max" -> deltaFilesMax.toDouble,
      "deltastore.space_amp" ->
        (if (liveBytes > 0) storeBytes / liveBytes else 0.0),
      "stmt.point_read_p50_ms" -> p50("point_read"),
      "stmt.fresh_agg_p50_ms" -> p50("fresh_agg"),
      "stmt.write_p50_ms" -> p50("insert", "upsert", "update", "delete"),
      "stmt.optimize_p50_ms" -> p50("optimize"),
      "stmt.ingest_rows_per_s" ->
        (if (loadMs > 0) samples.count(_.kind == "load") * LoadRows /
          (loadMs / 1000) else 0.0))
  }

  /** One statement text of each shape this workload sends. */
  private def sampleStatements: Seq[String] = Seq(
    s"SELECT id, grp, qty, amount, tag FROM $Table WHERE id = 1",
    s"SELECT COUNT(*) AS n, SUM(qty) AS q, SUM(amount) AS a FROM $Table " +
      "WHERE id BETWEEN 1 AND 2000",
    s"INSERT INTO $Table (id, grp, qty, amount, tag) VALUES " +
      values((0 until 10).map(i => KvRow(i, 1, 1, 1, "t"))),
    s"UPDATE $Table SET qty = qty + 1, tag = 'u' WHERE id = 1",
    s"DELETE FROM $Table WHERE id = 1")
}

object StatementWorkload {
  val Table = "bench_kv"
  val LoadRows = 200
  val RangeWidth = 2000L
  /** Write statements in pass order. In a fixed order each write finds
    * the store in the same state in every pass, whatever positions the
    * seed gives the writes among the reads. */
  val Writes: Seq[String] = Seq("update", "delete", "upsert", "insert", "load")
  val CreateTable: String =
    s"""CREATE TABLE $Table (
       |  id BIGINT NOT NULL,
       |  grp INT,
       |  qty INT,
       |  amount BIGINT,
       |  tag VARCHAR(16),
       |  PRIMARY KEY (id)
       |) ENGINE=TIANMU""".stripMargin

  final case class KvRow(id: Long, grp: Int, qty: Int, amount: Long,
                         tag: String) {
    def cells: Seq[String] = Seq(id.toString, grp.toString, qty.toString,
      amount.toString, tag)
  }

  /** Numbers compare by value whatever type the engine returns. */
  def num(v: Any): String = v match {
    case null => "null"
    case n: java.math.BigDecimal => n.stripTrailingZeros.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.stripTrailingZeros.toPlainString
    case n: java.lang.Number => n.toString
    case x => x.toString
  }
}
