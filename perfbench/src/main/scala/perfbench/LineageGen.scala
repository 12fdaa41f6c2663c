package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.lineage.{LineParser, MapMetaStore}

/** Seeded HQL scripts in the reference grammar, each with the lineage
  * it must yield. Seven statement shapes follow the reference goldens:
  * `select *` through metadata, WHERE, joins, map/array access, union
  * in a FROM subquery, top-level union, and multi-insert with CASE,
  * theta and full-outer joins. The generator varies subquery nesting,
  * join count, union width, statements per script and `USE` switches.
  *
  * Ground truth is what the generator put in, not what the parser
  * reports: input tables, output tables, and for every output column
  * in order its destination, name and source-column set.
  *
  * Subquery columns keep their source column's name (`a.x AS x`):
  * LineParser resolves a reference into a subquery by the outer name,
  * as the reference analyzer did, so a renamed subquery column is
  * attributed to a column of the outer name. That case is left out
  * of the generated shapes and is not measured here. */
object LineageGen {

  final case class Col(dest: String, name: String, sources: Set[String])
  final case class Truth(inputs: Set[String], outputs: Set[String],
      cols: Seq[Col])
  final case class Script(sql: String, truth: Truth, stmts: Int)

  val Dbs: Seq[String] = Seq("ods", "dw", "app")
  val Tables: Seq[String] = Seq("orders", "users", "clicks", "items",
    "payments", "sessions", "devices", "refunds")
  val Tmp: String = LineParser.TmpFile

  def columns(t: String): Seq[String] =
    Seq("uid", "dt") ++ specific(t) ++ Seq(s"${t}_m", s"${t}_arr")
  /** Columns whose names no other table has. */
  def specific(t: String): Seq[String] = Seq("a", "b", "c", "d").map(s"${t}_" + _)

  /** Schemas of every table in every database, for `select *`. */
  val meta: MapMetaStore = MapMetaStore((for {
    d <- "default" +: Dbs; t <- Tables
  } yield s"$d.$t" -> columns(t)).toMap)

  def scripts(seed: Long, n: Int): Seq[Script] = {
    val r = new Random(seed)
    Seq.fill(n)(script(r))
  }

  private val Shapes: Seq[String] =
    Seq("star", "where", "join", "map", "unionsub", "union", "multi")

  private def script(r: Random): Script = {
    val g = new Gen(r)
    val nStmt = 1 + r.nextInt(6)
    val sqls = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until nStmt) {
      if (r.nextDouble() < 0.25) sqls += g.use()
      sqls += (Shapes(r.nextInt(Shapes.size)) match {
        case "star" => g.star()
        case "where" => g.where()
        case "join" => g.join()
        case "map" => g.map()
        case "unionsub" => g.unionSub()
        case "union" => g.union()
        case "multi" => g.multi()
      })
    }
    Script(sqls.mkString(";\n"),
      Truth(g.inputs.toSet, g.outputs.toSet, g.cols.toList), nStmt)
  }

  /** Per-script generator state: the `USE` database and what the
    * statements so far must yield. */
  private final class Gen(r: Random) {
    var db = "default"
    val inputs = mutable.LinkedHashSet.empty[String]
    val outputs = mutable.LinkedHashSet.empty[String]
    val cols = mutable.ArrayBuffer.empty[Col]
    private var nDest = 0

    private def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    private def coin(p: Double = 0.5): Boolean = r.nextDouble() < p

    def use(): String = { db = pick(Dbs); s"USE $db" }

    /** A table reference: (SQL text, db-qualified name). */
    private def table(t: String): (String, String) =
      if (coin(0.4)) { val d = pick(Dbs); (s"$d.$t", s"$d.$t") }
      else (t, s"$db.$t")

    private def tables(n: Int): Seq[(String, (String, String))] =
      r.shuffle(Tables).take(n).map(t => t -> table(t))

    /** Destination clause and qualified destination, or a bare SELECT. */
    private def dest(allowBare: Boolean): (String, String) =
      if (allowBare && coin(0.25)) ("", Tmp)
      else {
        nDest += 1
        val (sql, q) = table(s"out_$nDest")
        outputs += q
        val clause =
          if (coin()) s"INSERT INTO $sql "
          else if (coin()) s"INSERT OVERWRITE TABLE $sql PARTITION (dt='2015') "
          else s"INSERT OVERWRITE TABLE $sql "
        (clause, q)
      }

    private def emit(d: String, name: String, src: Iterable[String]): Unit =
      cols += Col(d, name, src.toSet)

    /** `select *` over a join, expanded through the metadata store,
      * under 0–2 more `select *` levels. */
    def star(): String = {
      val Seq((t1, (s1, q1)), (t2, (s2, q2))) = tables(2)
      inputs += q1; inputs += q2
      val (clause, d) = dest(allowBare = true)
      var inner = s"SELECT * FROM $s1 a JOIN $s2 b ON a.uid = b.uid" +
        (if (coin()) s" WHERE a.${t1}_a > 10" else "")
      for (i <- 0 until r.nextInt(3)) inner = s"SELECT * FROM ($inner) s$i"
      val picks =
        if (coin(0.3)) {
          Seq(t1 -> q1, t2 -> q2).foreach { case (t, q) =>
            columns(t).foreach(c => emit(d, c, Seq(s"$q.$c")))
          }
          "*"
        } else {
          val ps = r.shuffle(specific(t1).map(_ -> q1) ++ specific(t2).map(_ -> q2))
            .take(1 + r.nextInt(3))
          ps.map { case (c, q) =>
            emit(d, c, Seq(s"$q.$c"))
            if (coin()) s"base.$c" else c
          }.mkString(", ")
        }
      s"${clause}SELECT $picks FROM ($inner) base"
    }

    /** One table, WHERE with >, IN, OR, <>, under 0–3 subquery levels. */
    def where(): String = {
      val Seq((t, (s, q))) = tables(1)
      inputs += q
      val (clause, d) = dest(allowBare = true)
      val cs = r.shuffle(columns(t).take(6)).take(1 + r.nextInt(3))
      val Seq(w1, w2, w3) = Seq.fill(3)(pick(specific(t)))
      var body = s"SELECT ${cs.mkString(", ")} FROM $s WHERE $w1 > 10 " +
        s"AND $w2 IN (11,22) OR $w3 <> '$$V_PARYMD'"
      for (i <- 0 until r.nextInt(4)) {
        val sel = cs.map(c => if (coin()) s"s$i.$c" else c).mkString(", ")
        body = s"SELECT $sel FROM ($body) s$i"
      }
      cs.foreach(c => emit(d, c, Seq(s"$q.$c")))
      clause + body
    }

    /** A chain of 1–4 inner/left joins; output columns are plain or
      * wrapped in one- and two-argument functions. */
    def join(): String = {
      val ts = tables(2 + r.nextInt(4))
      ts.foreach(x => inputs += x._2._2)
      val (clause, d) = dest(allowBare = true)
      val from = ts.zipWithIndex.map { case ((_, (s, _)), i) =>
        if (i == 0) s"$s a0"
        else {
          val kind = if (coin(0.7)) "JOIN" else "LEFT OUTER JOIN"
          s"$kind $s a$i ON a${i - 1}.uid = a$i.uid"
        }
      }.mkString(" ")
      def colOf(i: Int): (String, String) = {
        val c = pick(columns(ts(i)._1).take(6))
        (s"a$i.$c", s"${ts(i)._2._2}.$c")
      }
      val items = ts.indices.map { i =>
        val (x, xs) = colOf(i)
        val (y, ys) = colOf(r.nextInt(ts.size))
        val name = s"o$i"
        r.nextInt(5) match {
          case 0 => emit(d, x.split('.')(1), Seq(xs)); x
          case 1 => emit(d, name, Seq(xs)); s"nvl($x,0) AS $name"
          case 2 => emit(d, name, Seq(xs)); s"to_date($x) AS $name"
          case 3 => emit(d, name, Seq(xs, ys)); s"concat($x, '-', $y) AS $name"
          case _ => emit(d, name, Seq(xs, ys)); s"$x + $y AS $name"
        }
      }
      val where = s" WHERE a0.${ts.head._1}_a > 10 AND " +
        s"to_date(a${ts.size - 1}.dt) > date_sub('20151001',7)"
      s"${clause}SELECT ${items.mkString(", ")} FROM $from$where"
    }

    /** Arithmetic on literals, map and array subscripts, CONCAT. */
    def map(): String = {
      val Seq((t, (s, q))) = tables(1)
      inputs += q
      val (clause, d) = dest(allowBare = true)
      val Seq(c1, c2, c3) = r.shuffle(specific(t)).take(3)
      val items = r.shuffle(Seq(
        ("1+1 AS num", "num", Nil),
        (s"${t}_m['cid'] AS maptest", "maptest", Seq(s"$q.${t}_m")),
        (s"${t}_arr[0] AS arrtest", "arrtest", Seq(s"$q.${t}_arr")),
        (s"CONCAT($c1,$c2,$c3) AS cc", "cc", Seq(c1, c2, c3).map(c => s"$q.$c")),
      )).take(2 + r.nextInt(3))
      items.foreach { case (_, n, src) => emit(d, n, src) }
      s"${clause}SELECT ${items.map(_._1).mkString(",")} FROM $s"
    }

    /** A 2–4 branch UNION ALL in a FROM subquery, joined to a table. */
    def unionSub(): String = {
      val width = 2 + r.nextInt(3)
      val ts = tables(width + 1)
      ts.foreach(x => inputs += x._2._2)
      val (clause, d) = dest(allowBare = true)
      val branches = ts.take(width).zipWithIndex.map { case ((_, (s, _)), i) =>
        s"SELECT b$i.uid AS uid, b$i.dt as dt FROM $s b$i WHERE b$i.dt = '2010-06-0$i'"
      }
      val (xt, (xs, xq)) = ts.last
      val xc = pick(specific(xt))
      val branchQs = ts.take(width).map(_._2._2)
      emit(d, xc, Seq(s"$xq.$xc"))
      val outs = r.shuffle(Seq("uid", "dt")).take(1 + r.nextInt(2))
      outs.foreach(c => emit(d, c, branchQs.map(q => s"$q.$c")))
      s"${clause}SELECT x.$xc, ${outs.map("u." + _).mkString(", ")} FROM ( " +
        branches.mkString(" UNION ALL ") + s" ) u JOIN $xs x ON (x.uid = u.uid)"
    }

    /** A 2–4 branch top-level UNION ALL, merged by position; some
      * branches project string literals. */
    def union(): String = {
      val width = 2 + r.nextInt(3)
      val ts = tables(width)
      ts.foreach(x => inputs += x._2._2)
      val (clause, d) = dest(allowBare = false)
      val k = 2 + r.nextInt(2)
      // per branch, per position: Some(column) or a literal
      val grid = ts.map { case (t, _) =>
        r.shuffle(columns(t).take(6)).take(k).map(c =>
          if (coin(0.2)) None else Some(c))
      }
      val branches = ts.zip(grid).zipWithIndex.map { case (((_, (s, _)), row), i) =>
        val items = row.zipWithIndex.map {
          case (Some(c), _) => c
          case (None, j) => "\"Category" + (100 + 10 * i + j) + "\""
        }
        s"SELECT ${items.mkString(", ")} FROM $s" +
          (if (coin(0.3)) s" WHERE ${row.flatten.headOption.getOrElse("uid")} = 123" else "")
      }
      (0 until k).foreach { j =>
        val named = grid.map(_(j)).flatten
        val name = named.headOption.getOrElse("\"Category" + (100 + j) + "\"")
        val src = ts.zip(grid).flatMap { case ((_, (_, q)), row) =>
          row(j).map(c => s"$q.$c") }
        emit(d, name, src)
      }
      clause + branches.mkString(" UNION ALL ")
    }

    /** Hive multi-insert from a theta + full-outer join subquery, with
      * CASE WHEN, CONCAT and count(distinct). */
    def multi(): String = {
      val Seq((tc, (sc, qc)), (tp, (sp, qp)), (_, (su, qu))) = tables(3)
      Seq(qc, qp, qu).foreach(inputs += _)
      // three subquery columns, each keeping its source name
      val picks = r.shuffle(specific(tp).map(_ -> ("p", qp)) ++
        specific(tc).map(_ -> ("c", qc))).take(3)
      val srcOf = picks.map { case (c, (_, q)) => c -> s"$q.$c" }.toMap
      val Seq(a, b, c) = picks.map(_._1)
      val sub = s"SELECT ${picks.map { case (n, (al, _)) =>
          if (coin()) s"$al.$n $n" else s"$al.$n" }.mkString(", ")} " +
        s"FROM $sc c JOIN $sp p ON (p.${tp}_a > c.${tc}_a OR p.${tp}_b = c.${tc}_b) " +
        s"AND p.uid = c.uid FULL OUTER JOIN $su du ON du.uid = p.uid " +
        s"WHERE p.dt = '20131118' AND (du.uid IN (111,222) OR hash(p.${tp}_c) LIKE '%123%')"
      val inserts = (0 until 1 + r.nextInt(3)).map { _ =>
        val (clause, d) = dest(allowBare = false)
        val items = r.shuffle(Seq(
          (s"concat(base.$a,1,2) AS aaa", "aaa", Seq(a)),
          (s"case when base.$b > 5 then base.$c when base.$b > 1 then " +
            s"base.$a+5 else 1-base.$c end bbbaaa", "bbbaaa", Seq(c, a)),
          (s"count(distinct hash(base.$b)) buyer_count", "buyer_count", Seq(b)),
          (s"base.$a", a, Seq(a)),
        )).take(1 + r.nextInt(4))
        items.foreach { case (_, n, src) => emit(d, n, src.map(srcOf)) }
        s"${clause}SELECT ${items.map(_._1).mkString(", ")} " +
          s"WHERE base.$b IS NOT NULL GROUP BY base.$a, base.$c"
      }
      s"FROM ($sub) base ${inserts.mkString(" ")}"
    }
  }

  /** Source-column set of a ColLine's `fromName`: comma-separated
    * qualified columns, where `db.t1&db.t2.c` names `c` of each table. */
  def sourceSet(fromName: String): Set[String] =
    fromName.split(",").toSeq.filter(_.nonEmpty).flatMap { q =>
      val i = q.lastIndexOf('.')
      if (i < 0) Seq(q)
      else q.substring(0, i).split("&").toSeq.map(_ + q.substring(i))
    }.toSet

  /** Why `p`'s result differs from `t`, or None. */
  def check(p: LineParser, t: Truth): Option[String] = {
    val got = p.getColLines.map(c => Col(c.toTable, c.toNameParse, sourceSet(c.fromName)))
    if (p.getErrors.nonEmpty) Some(s"errors: ${p.getErrors.map(_._2).mkString("; ")}")
    else if (p.getInputTables != t.inputs)
      Some(s"inputs ${p.getInputTables.toSeq.sorted} != ${t.inputs.toSeq.sorted}")
    else if (p.getOutputTables != t.outputs)
      Some(s"outputs ${p.getOutputTables.toSeq.sorted} != ${t.outputs.toSeq.sorted}")
    else if (got != t.cols) {
      val i = got.zip(t.cols).indexWhere { case (g, e) => g != e }
      Some(s"columns differ at ${if (i < 0) math.min(got.size, t.cols.size) else i}: " +
        s"got ${got.lift(i)} expected ${t.cols.lift(i)} (${got.size} vs ${t.cols.size})")
    } else None
  }

  /** The ten tables the engine's oracle SQL reads. */
  private val BaseTables = graft.engine.Tables.names

  /** Oracle-corpus rule (the one LineageCorpusSpec pins): a statement
    * that parses yields exactly the base tables its text names; one that
    * does not may only fail with a ParseException (DuckDB-only syntax).
    * Returns Right(parsed?) or Left(defect). */
  def checkOracle(p: LineParser, sql: String): Either[String, Boolean] =
    (p.getErrors, p.getInputTables.isEmpty) match {
      case (Nil, false) =>
        val text = sql.replaceAll("'[^']*'", "''")
        val expected = BaseTables.filter(t =>
          s"\\b$t\\b".r.findFirstIn(text).isDefined).map("default." + _).toSet
        if (p.getInputTables == expected) Right(true)
        else Left(s"inputs ${p.getInputTables.toSeq.sorted} != ${expected.toSeq.sorted}")
      case (Nil, true) => Left("parsed but no input tables")
      case (errs, _) if errs.forall(_._2.startsWith("ParseException")) => Right(false)
      case (errs, _) => Left(s"non-parse error: ${errs.map(_._2).mkString("; ")}")
    }
}
