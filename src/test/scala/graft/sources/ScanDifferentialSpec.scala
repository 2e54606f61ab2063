package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Seeded differential check of the catalog's reads against a model: small
  * random tables take random mixes of appends (some with an added column),
  * equality deletes on string, long and int keys, positional deletes,
  * deletion-vector rewrites, renames, a column drop, compactions and
  * manifest rewrites, and the model — the live rows, changed by the same
  * operations, each delete removing only rows added before it — is the
  * expected answer. After every step the current scan, `read`,
  * `readSnapshot` at a random earlier snapshot and
  * `readIncremental`/`readChangelog` from it hold exactly the model's rows,
  * and the schema `schemaAt` folds from the schemas recorded at commit
  * equals the fold of the data files' own footers.
  */
class ScanDifferentialSpec extends AnyFunSuite with SparkSuite {
  import ScanDifferentialSpec.{EqDel, Rec}

  test("catalog reads equal a model under random deletes, renames and a drop (seed 8)") {
    val rnd = new scala.util.Random(8)
    val deadline = System.nanoTime() + 240L * 1000000000L
    var steps = 0
    var drops = 0
    var incrementals = 0 // incremental windows checked
    var preImages = 0 // changelog checks with a delete feed
    var compactions = 0
    var manifestRewrites = 0
    for (t <- 0 until 6 if System.nanoTime() < deadline) {
      val root = Files.createTempDirectory("graftdiff").toFile.getAbsolutePath
      val cat = new ParquetSnapshotCatalog(root)
      // current name of each logical column; `extra` appears on a later append
      var name = Map("id" -> "id", "s" -> "s", "k" -> "k", "extra" -> "extra")
      var hasExtra = false
      var extraWritten = false
      var dropped = false // `s` dropped
      var next = 0L
      var live = Vector.empty[Rec]
      // per committed snapshot: the live rows, and whether it rewrote the
      // entry list (a deletion-vector rewrite) or tombstoned positions
      var states = Vector.empty[(Long, Vector[Rec])]
      var rewrites = Set.empty[Long]
      var positional = Set.empty[Long]
      var eqDels = Vector.empty[EqDel]

      def cur: Long = cat.currentSnapshot("t").get
      def batch(n: Int): DataFrame = {
        val from = next; next += n
        // duplicate keys across rows, so one delete key can hit several rows
        val cols = Seq(s"id AS ${name("id")}", s"concat('s', id % 37) AS ${name("s")}",
          s"CAST(id % 23 AS INT) AS ${name("k")}") ++
          (if (hasExtra) Seq(s"id * 2 AS ${name("extra")}") else Nil)
        spark.range(from, from + n).repartition(1 + rnd.nextInt(3)).selectExpr(cols: _*)
      }
      def append(n: Int, first: Boolean): Unit = {
        val from = next
        val snap = if (first) cat.commit(batch(n), "t") else cat.append(batch(n), "t")
        live ++= (from until from + n).map(i => Rec(i, if (hasExtra) Some(i * 2) else None, snap))
        extraWritten ||= hasExtra
      }
      def deleteEq(c: String, keys: Seq[String]): Unit = {
        val snap = cat.deleteWhere("t", name(c), keys)
        eqDels :+= EqDel(snap, name(c), c, keys.toSet)
        live = live.filterNot(r => keys.contains(r.value(c)))
      }

      append(200 + rnd.nextInt(300), first = true)
      states :+= (cur -> live)
      for (_ <- 0 until 8 if System.nanoTime() < deadline) {
        rnd.nextInt(10) match {
          case 0 =>
            if (rnd.nextBoolean()) hasExtra = true
            append(50 + rnd.nextInt(200), first = false)
          case 1 if !dropped => deleteEq("s", Seq.fill(3)(s"s${rnd.nextInt(37)}"))
          case 1 | 2 => deleteEq("id", Seq.fill(5)(rnd.nextInt(next.toInt).toString))
          case 3 => deleteEq("k", Seq(rnd.nextInt(23).toString, "07"))
          case 4 =>
            val (m, r) = (5 + rnd.nextInt(20), rnd.nextInt(5))
            val (snap, n) = cat.deleteMatching(spark, "t", s"${name("id")} % $m = $r")
            val hit = live.filter(_.id % m == r)
            assert(n == hit.size, s"table $t step $steps: deleteMatching count")
            if (n > 0) positional += snap
            live = live.filterNot(_.id % m == r)
          case 5 =>
            if (cat.positionalTsvPairs("t", cur).nonEmpty) rewrites += cat.rewritePositionDeletes("t")
          case 6 if !dropped =>
            cat.dropColumn("t", name("s"))
            dropped = true
            drops += 1
          case 8 =>
            // materializes every delete: the rewritten rows are the live ones
            rewrites += cat.compact(spark, "t")
            compactions += 1
          case 9 =>
            val before = cur
            val rw = cat.rewriteManifests("t")
            if (rw != before) { rewrites += rw; manifestRewrites += 1 }
          case _ =>
            val c = (if (dropped) Seq("k", "id") else Seq("s", "k", "id"))(rnd.nextInt(if (dropped) 2 else 3))
            val fresh = s"${c}_r$steps"
            cat.renameColumn("t", name(c), fresh)
            name += c -> fresh
        }
        steps += 1
        if (!states.lastOption.exists(_._1 == cur)) states :+= (cur -> live)
        val at = s"table $t step $steps"

        // the visible logical columns, by their current names
        val cols = Seq("id", "k") ++ (if (dropped) Nil else Seq("s"))
        def rowOf(r: Rec, withExtra: Boolean): Seq[String] =
          cols.map(r.value) ++ (if (withExtra) Seq(r.extra.map(_.toString).orNull) else Nil)
        def multiset(rows: Seq[Seq[String]]): Map[Seq[String], Int] =
          rows.groupBy(identity).map { case (k, v) => k -> v.length }
        def got(df: DataFrame): Map[Seq[String], Int] = {
          val withExtra = df.columns.contains(name("extra"))
          val sel = cols.map(name) ++ (if (withExtra) Seq(name("extra")) else Nil)
          multiset(df.selectExpr(sel.map(c => s"CAST(`$c` AS STRING)"): _*).collect()
            .map(r => (0 until r.length).map(r.getString)).toSeq)
        }
        def want(rows: Seq[Rec], df: DataFrame): Map[Seq[String], Int] =
          multiset(rows.map(rowOf(_, df.columns.contains(name("extra")))))
        def assertRows(df: DataFrame, rows: Seq[Rec], what: String): Unit = {
          val (g, w) = (got(df), want(rows, df))
          if (g != w) fail(s"$at: $what: read but not in the model " +
            s"${(g.toSet -- w.toSet).take(5)}, in the model but not read ${(w.toSet -- g.toSet).take(5)}")
        }

        // the schema: current names, each logical column at its type
        val scan = cat.scan(spark, "t")
        val types = scan.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
        val wantTypes = Map(name("id") -> "bigint", name("k") -> "int") ++
          (if (dropped) Nil else Seq(name("s") -> "string")) ++
          (if (extraWritten) Seq(name("extra") -> "bigint") else Nil)
        assert(types == wantTypes, s"$at: schema")
        // the recorded schemas fold to what the footers fold to: a copy of
        // the metadata without the recorded schemas folds the footers
        val bare = Files.createTempDirectory("graftdiffbare")
        Files.createDirectories(bare.resolve("t/_manifests"))
        Files.list(java.nio.file.Paths.get(root, "t", "_manifests")).forEach { p =>
          if (!p.getFileName.toString.endsWith(".schema") && Files.isRegularFile(p))
            Files.copy(p, bare.resolve("t/_manifests").resolve(p.getFileName))
        }
        assert(cat.schemaAt(spark, "t", cur) ==
          new ParquetSnapshotCatalog(bare.toString).schemaAt(spark, "t", cur), s"$at: schemaAt")
        assertRows(scan, live, "scan")
        assertRows(cat.read(spark, "t"), live, "read")

        // time travel, incremental and changelog from a random earlier snapshot
        val earlier = states.dropRight(1)
        if (earlier.nonEmpty) {
          val (a, then) = earlier(rnd.nextInt(earlier.size))
          assertRows(cat.readSnapshot(spark, "t", a), then, s"readSnapshot($a)")
          val window = states.map(_._1).filter(s => s > a && s <= cur).toSet
          if (window.exists(rewrites)) {
            intercept[IllegalStateException](cat.readIncremental(spark, "t", a))
          } else {
            val inserts = live.filter(_.added > a)
            assertRows(cat.readIncremental(spark, "t", a), inserts, s"readIncremental($a)")
            incrementals += 1
            val dels = eqDels.filter(d => window(d.snap))
            if (!window.exists(positional) && !(dropped && dels.exists(_.logical == "s"))) {
              val log = cat.readChangelog(spark, "t", a)
              assertRows(log.where("op = 'insert'"), inserts, s"readChangelog($a) inserts")
              // one pre-image per delete column: the rows visible at `a`
              // that hold one of the column's keys
              val pre = dels.groupBy(_.recorded).values.toSeq.flatMap { ds =>
                then.filter(r => ds.exists(d => d.keys(r.value(d.logical))))
              }
              assertRows(log.where("op = 'delete'"), pre, s"readChangelog($a) deletes")
              if (pre.nonEmpty) preImages += 1
            }
          }
        }
      }
    }
    assert(steps >= 12, s"only $steps steps ran before the deadline")
    assert(drops >= 1 && incrementals >= 4 && preImages >= 1 && compactions >= 1 &&
      manifestRewrites >= 1, s"too few checks: $drops drops, $incrementals windows, " +
      s"$preImages pre-image feeds, $compactions compactions, $manifestRewrites manifest rewrites")
  }
}

object ScanDifferentialSpec {
  /** One model row: the logical columns `id`, `s`, `k`, `extra` (None when
    * written without it) and the snapshot that added it. */
  private final case class Rec(id: Long, extra: Option[Long], added: Long) {
    def s: String = s"s${id % 37}"
    def k: Int = (id % 23).toInt
    def value(c: String): String = c match {
      case "id" => id.toString
      case "s" => s
      case "k" => k.toString
    }
  }

  /** An equality delete as the model sees it: its snapshot, the column name
    * it was committed under, the logical column and the keys. */
  private final case class EqDel(snap: Long, recorded: String, logical: String, keys: Set[String])
}
