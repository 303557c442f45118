package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The staged-input memo (Scratch.staged / Scratch.fresh): a staged input
  * is built once per (session, dir, tag) and is never changed by the
  * queries that read it; builds may nest; concurrent callers share one
  * build; purge forgets every staged input. */
class StagedInputSpec extends SparkTestBase {

  /** Every benchable query that declares staging: a non-empty `prepare`. */
  private def stagingQueries: Seq[(String, graft.operators.Query)] =
    Bench.benchable.toSeq.sortBy(_._1).filter(_._2.prepare ne graft.operators.Query.nothing)

  /** Directories a staged value points at (paths, or tuples of them). */
  private def dirsIn(v: Any): Seq[String] = v match {
    case p: String if new java.io.File(p).isDirectory => Seq(p)
    case t: Product => t.productIterator.flatMap(dirsIn).toSeq
    case _ => Nil
  }

  /** (relative path, size, mtime) of every file under `root`, sorted. */
  private def fingerprint(root: String): Seq[(String, Long, Long)] = {
    val r = Paths.get(root)
    val it = Files.walk(r)
    try it.iterator().asScala.filter(Files.isRegularFile(_)).map { (p: Path) =>
      (r.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally it.close()
  }

  test("two executions of every staging query leave each staged directory unchanged") {
    assert(stagingQueries.nonEmpty && stagingQueries.size < Bench.benchable.size,
      s"${stagingQueries.size} of ${Bench.benchable.size} queries declare staging; the filter is broken")
    def runAll(): Unit = stagingQueries.foreach { case (name, q) =>
      try q(spark, sfDir).collect()
      catch { case e: Throwable => fail(s"$name failed", e) }
    }
    // A query that mutates its staged input during the execution that
    // built it leaves the same mutated state after every later execution,
    // so the pristine state is fingerprinted at build time.
    val atBuild = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long, Long)]]()
    val builds = new AtomicInteger()
    Scratch.purge(spark) // every input below is built under the observer
    Scratch.onAccess = { (_, v, built) =>
      if (built) {
        builds.incrementAndGet()
        dirsIn(v).foreach(d => atBuild.put(d, fingerprint(d)))
      }
    }
    try {
      runAll()
      val dirs = atBuild.keySet.asScala.toSeq.sorted
      assert(dirs.nonEmpty, "no staged directory after the first executions")
      val beforeSecond = dirs.map(d => d -> fingerprint(d)).toMap
      val firstBuilds = builds.get
      runAll()
      assert(builds.get == firstBuilds, "a staged input was rebuilt by a second execution")
      def report(base: String => Seq[(String, Long, Long)]): Seq[String] = dirs.flatMap { d =>
        val now = fingerprint(d)
        if (now == base(d)) None
        else Some(s"$d: ${base(d).diff(now).take(3)} -> ${now.diff(base(d)).take(3)}")
      }
      val sinceBuild = report(atBuild.get)
      assert(sinceBuild.isEmpty,
        s"staged directories changed since their build: ${sinceBuild.mkString("; ")}")
      val bySecond = report(beforeSecond)
      assert(bySecond.isEmpty,
        s"staged directories changed by a second execution: ${bySecond.mkString("; ")}")
    } finally Scratch.onAccess = (_, _, _) => ()
  }

  test("calling a query restores its fresh input 0 times on the first call, once on each later call") {
    // Scratch.fresh restores the pristine copy on every access that does
    // not build it, so its non-building accesses count the restores
    val q = Bench.benchable("delete_dsv2_rewrite")
    val restores = new AtomicInteger()
    Scratch.purge(spark)
    Scratch.onAccess = { (tag, _, built) =>
      if (tag == "del_ev" && !built) restores.incrementAndGet()
      ()
    }
    try {
      val first = q(spark, sfDir).collect().toSeq
      assert(restores.get == 0, s"the first call restored its input ${restores.get} times")
      (1 to 2).foreach { i =>
        assert(q(spark, sfDir).collect().toSeq == first, s"call ${i + 1} read a different input")
        assert(restores.get == i, s"${i + 1} calls restored the input ${restores.get} times")
      }
    } finally Scratch.onAccess = (_, _, _) => ()
  }

  test("a staged build may stage another input") {
    val v = Scratch.staged(spark, "nested", "outer") {
      Scratch.staged(spark, "nested", "inner")("in") + "+out"
    }
    assert(v == "in+out")
    assert(Scratch.staged(spark, "nested", "inner")("rebuilt") == "in")
  }

  test("two threads asking for one key share a single build") {
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(() => {
          go.await()
          Scratch.staged(spark, "concurrent", "once") {
            builds.incrementAndGet()
            Thread.sleep(300)
            new Object
          }
        })
      }
      go.countDown()
      val values = calls.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(values(0) eq values(1))
    } finally pool.shutdownNow()
  }

  test("purge makes the next call rebuild") {
    val builds = new AtomicInteger()
    def get(): String = Scratch.staged(spark, "purged", "tag") {
      builds.incrementAndGet()
      "v"
    }
    get(); get()
    assert(builds.get == 1)
    Scratch.purge(spark)
    get()
    assert(builds.get == 2, "purge did not clear the staged input")
  }
}
