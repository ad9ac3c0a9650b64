package graft

import graft.mergetree.{ColumnarMergeTree, KVRow, Manifest, MergeTreeConfig, MergeTreeTable, MetaFiles}
import graft.mergetree.ColumnarMergeTree.{GcList, GManifest, TableDef}
import graft.operators.InvertedIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** The race test's record shape. */
case class RacePayload(w: Int, i: Int, pad: String)

/** The metadata-file primitive: publishes are whole or absent, a crash
  * between write and rename leaves nothing a loader reads and only a temp
  * that both engines' GC sweeps once it is old, and every metadata publish
  * in `src/main` goes through it.
  */
class MetaFilesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  /** A crashed publish: a dot-prefixed temp sibling holding a torn copy. */
  private def leaveTornTemp(target: Path): Unit = {
    val bytes = Files.readAllBytes(target)
    Files.write(target.resolveSibling(s".${target.getFileName}.crashed.tmp"),
      bytes.take(bytes.length / 2))
  }

  test("concurrent unlocked publishes: every read sees one whole payload, no temp left") {
    val dir = Files.createTempDirectory("metafiles_race_")
    val target = dir.resolve("record.json")
    // Large enough that a non-atomic write would be observed torn.
    def payload(w: Int, i: Int) = s"""{"w":$w,"i":$i,"pad":"${"x" * (64 * 1024)}"}"""
    val valid = (for (w <- 0 until 8; i <- 0 until 20) yield payload(w, i)).toSet + payload(-1, 0)
    MetaFiles.publish(target, payload(-1, 0))
    val pool = Executors.newFixedThreadPool(9)
    val start = new CountDownLatch(1)
    val writing = new AtomicBoolean(true)
    try {
      val writers = (0 until 8).map(w => pool.submit(new Runnable {
        def run(): Unit = { start.await(); (0 until 20).foreach(i => MetaFiles.publish(target, payload(w, i))) }
      }))
      val reader = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          var reads = 0
          while (writing.get() || reads == 0) {
            val s = MetaFiles.read(target)
            assert(s.exists(valid), s"torn or missing read: ${s.map(_.take(40))}")
            reads += 1
          }
          reads
        }
      })
      start.countDown()
      writers.foreach(_.get(60, TimeUnit.SECONDS))
      writing.set(false)
      assert(reader.get(60, TimeUnit.SECONDS) > 0)
      assert(listNames(dir) == Seq("record.json"), "a temp sibling was left behind")
      assert(MetaFiles.readJson[RacePayload](target).exists(_.pad.length == 64 * 1024))
      assert(MetaFiles.readJson[RacePayload](dir.resolve("absent.json")).isEmpty)
    } finally {
      pool.shutdownNow()
      MergeTreeTable.deleteRecursively(dir)
    }
  }

  test("a crash between write and rename leaves every loader and reopen unchanged") {
    import spark.implicits._
    val gdir = Files.createTempDirectory("metafiles_crash_g_").toString
    val kdir = Files.createTempDirectory("metafiles_crash_kv_").toString
    val idir = Files.createTempDirectory("metafiles_crash_inv_").toString
    // A long grace keeps the merge's retired parts in gclist.json.
    val g = ColumnarMergeTree.create(spark, gdir,
      new org.apache.spark.sql.types.StructType().add("k", "long").add("v", "string"),
      orderBy = Seq("k"), config = MergeTreeConfig(gcGraceSeconds = 3600))
    val kv = MergeTreeTable.create(spark, kdir, MergeTreeConfig(gcGraceSeconds = 3600))
    try {
      (0 until 3).foreach(b =>
        g.insertBatch((b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")))
      g.optimizeFinal()
      (0 until 30).foreach(i => kv.insert(KVRow(f"key$i%03d", s"v$i", i.toLong)))
      kv.flush()
      val docs = Seq((1L, "table scan merge"), (2L, "merge tree parts"), (3L, "scan the parts"))
        .toDF("doc_id", "text")
      InvertedIndex.build(spark, docs, idir, nbuckets = 2)

      val gm = GManifest.load(gdir)
      val gc = GcList.load(gdir)
      val td = TableDef.load(gdir)
      val km = Manifest.load(kdir)
      val st = InvertedIndex.readStats(idir)
      val gRows = g.scan().orderBy("k").collect().toSeq
      val kRows = kv.queryRows("key000", "key999")
      assert(gc.retired.nonEmpty && km.exists(_.parts.nonEmpty))
      g.shutdown(); kv.shutdown()

      Seq(Paths.get(gdir, "gmanifest.json"), Paths.get(gdir, "gclist.json"),
        Paths.get(gdir, "tabledef.json"), Paths.get(kdir, "manifest.json"),
        Paths.get(idir, "_stats.json")).foreach(leaveTornTemp)
      // Temps torn by crashes long past the sweep's age floor (both tables'
      // grace is 3600 s, above the 10-minute minimum).
      val snapDir = Paths.get(gdir, "snapshots")
      val snap = listNames(snapDir).find(_.endsWith(".json")).map(snapDir.resolve).get
      val aged = Seq(Paths.get(gdir, "gmanifest.json"), snap, Paths.get(kdir, "manifest.json"))
        .map { target =>
          val t = target.resolveSibling(s".${target.getFileName}.aged.tmp")
          Files.write(t, Files.readAllBytes(target).take(10))
          Files.setLastModifiedTime(t, java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3L * 3600 * 1000))
          t
        }
      val fresh = Seq(Paths.get(gdir, ".gmanifest.json.crashed.tmp"),
        Paths.get(kdir, ".manifest.json.crashed.tmp"))

      assert(GManifest.load(gdir) == gm)
      assert(GcList.load(gdir) == gc)
      assert(TableDef.load(gdir) == td)
      assert(Manifest.load(kdir) == km)
      assert(InvertedIndex.readStats(idir) == st)
      val g2 = ColumnarMergeTree.open(spark, gdir)
      try {
        assert(g2.scan().orderBy("k").collect().toSeq == gRows)
        g2.purgeGc(force = true)
        assert(g2.scan().orderBy("k").collect().toSeq == gRows)
      } finally g2.shutdown()
      val kv2 = MergeTreeTable.open(spark, kdir)
      try {
        assert(kv2.queryRows("key000", "key999") == kRows)
        kv2.purgeGc(force = true)
        assert(kv2.queryRows("key000", "key999") == kRows)
      } finally kv2.shutdown()
      assert(aged.forall(Files.notExists(_)), s"aged temps survived purgeGc: $aged")
      assert(fresh.forall(Files.exists(_)), "a fresh temp may belong to a live publish")
      assert(InvertedIndex.open(spark, idir).search(Seq("merge"), k = 3)
        .select(col("doc_id")).as[Long].collect().toSet == Set(1L, 2L))
    } finally {
      Seq(gdir, kdir, idir).foreach(d => MergeTreeTable.deleteRecursively(Paths.get(d)))
    }
  }

  test("every atomic metadata publish in src/main goes through MetaFiles") {
    val root = Paths.get("src/main/scala").toAbsolutePath
    assert(Files.isDirectory(root), s"run from the build's base directory: no $root")
    val walk = Files.walk(root)
    val counts = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        val code = Files.readAllLines(f).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
          .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })
        f.getFileName.toString -> code.map(_.split("ATOMIC_MOVE", -1).length - 1).sum
      }
      .filter(_._2 > 0).toMap
      finally walk.close()
    // MetaFiles.publish, and freeze's rename of a whole staged backup dir.
    assert(counts == Map("MetaFiles.scala" -> 1, "ColumnarMergeTree.scala" -> 1),
      s"ATOMIC_MOVE outside the primitive: $counts")
  }
}
