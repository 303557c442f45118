package graft

/** Guards on the driver contract itself (SparkEntry / Verify / Bench):
  * these failing means the driver's gate breaks silently, so they fail
  * loudly here first. */
class ContractSpec extends SparkTestBase {

  test("registry size matches the counts documented in SURVEY §2 / README") {
    // The round-6 verdict caught the docs drifting from the registry
    // (127/125 documented vs 128/126 actual), and round 8 caught this pin
    // guarding only itself while SURVEY.md drifted anyway. The counts are
    // now GREPPED out of the docs, so doc drift is itself a test failure.
    assert(SparkEntry.queries.size == 226,
      s"queries registered: ${SparkEntry.queries.size}; update docs + this pin together")
    assert(SparkEntry.oracleSql.size == 226,
      s"oracle-checked: ${SparkEntry.oracleSql.size}; update docs + this pin together")
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"registered queries with blank oracle SQL: $blank")
    def documented(path: String): (Int, Int) = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      val reg = """(\d+) queries (?:are )?registered""".r
        .findFirstMatchIn(text).map(_.group(1).toInt)
      val ora = """(\d+)\s+(?:DuckDB-)?oracle-checked""".r
        .findFirstMatchIn(text).map(_.group(1).toInt)
      (reg.getOrElse(fail(s"$path: no 'N queries registered' sentence")),
        ora.getOrElse(fail(s"$path: no 'N oracle-checked' sentence")))
    }
    for (doc <- Seq("SURVEY.md", "README.md")) {
      val (reg, ora) = documented(doc)
      assert(reg == SparkEntry.queries.size, s"$doc documents $reg registered")
      assert(ora == SparkEntry.oracleSql.size, s"$doc documents $ora oracle-checked")
    }
  }

  test("q_cs positional contract: tail array aligns with the name-sorted registry") {
    // Round-12 verdict #5: the driver's 2000-char bench tail carries
    // per-query centiseconds POSITIONALLY (q_cs[i] = i-th registry query in
    // ascending name order). r11 verified the 188-entry alignment by hand;
    // this pins it so a registry insertion cannot silently shift the map.
    val names = Bench.registryNamesSorted
    assert(names.length == Bench.benchable.size,
      s"q_cs basis has ${names.length} entries for ${Bench.benchable.size} benchable queries")
    assert(names == names.sorted, "q_cs basis is not name-sorted")
    assert(names.distinct.length == names.length, "duplicate names in q_cs basis")
    // Round-trip one entry: name -> position -> centiseconds. Encode a
    // synthetic best map where query i costs i/100 s, so decoded(i) == i
    // proves position i carries query i's value.
    val qcs = Bench.qcsJson(names.zipWithIndex.map { case (n, i) => n -> i / 100.0 })
    val decoded = qcs.stripPrefix("[").stripSuffix("]").split(",").map(_.toInt)
    assert(decoded.length == names.length)
    val probe = names.indexOf("q1_agg")
    assert(probe >= 0 && decoded(probe) == probe,
      s"q_cs round-trip failed: q1_agg at position $probe decoded ${decoded(probe)}")
    assert(decoded.last == names.length - 1)
  }

  test("storm-deferral contract: predicate thresholds and reference hygiene") {
    // Round-12: the deferral layer re-runs storm-contaminated measurements
    // at session end. Pin the predicate semantics (both conditions must
    // hold; no reference disables detection) so a threshold edit is a
    // deliberate act, and pin the committed reference file against the
    // registry so a renamed/removed query cannot leave a stale anchor.
    assert(Bench.isStormSuspect(12.0, Some(2.0)),
      "6x + 10s over band must defer")
    assert(!Bench.isStormSuspect(0.49, Some(0.001)),
      "absolute floor: 490x on a sub-second query must NOT defer")
    assert(!Bench.isStormSuspect(8.0, Some(2.0)),
      "4x is inside the allowed band (ratio condition)")
    assert(!Bench.isStormSuspect(5.0, None),
      "no reference entry disables detection")
    assert(!Bench.isStormSuspect(-1.0, Some(2.0)),
      "failed queries are reported as failures, not deferred")
    val ref = Bench.loadReference("bench_reference.json")
    assert(ref.nonEmpty, "committed bench_reference.json failed to parse")
    val stale = ref.keySet -- Bench.benchable.keySet
    assert(stale.isEmpty, s"reference entries with no registry query: $stale")
    assert(ref.values.forall(v => v > 0 && v < 120),
      "reference seconds outside sane bounds — regenerated from a bad run?")
  }

  test("drift normalization contract: session_drift, outliers, stale anchors") {
    // Round-13 (r12 verdict #3/#5 + "What's wrong" #1): the bench artifact
    // records a session-drift factor (median best/reference ratio) plus a
    // NON-deferring outlier list with no absolute floor, and nags when an
    // anchor is >5x slower than reality. Pin the semantics so a formula
    // edit is deliberate.
    val ref = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    // Uniform 1.5x drift -> median ratio is exactly 1.5.
    val uniform = Seq("a" -> 1.5, "b" -> 3.0, "c" -> 6.0)
    assert(math.abs(Bench.sessionDrift(uniform, ref) - 1.5) < 1e-9)
    // Median, not mean: one 100x storm cannot move the normalizer.
    val stormy = Seq("a" -> 1.5, "b" -> 6.0, "c" -> 400.0)
    assert(math.abs(Bench.sessionDrift(stormy, ref) - 3.0) < 1e-9)
    // No reference -> -1 (disabled), and outliers empty in that case.
    assert(Bench.sessionDrift(uniform, Map.empty) == -1.0)
    assert(Bench.driftOutliers(uniform, Map.empty, -1.0).isEmpty)
    // Outliers: >5x net of drift, NO absolute floor — a 5.1x-regressed
    // 0.2s-band query is listed even though the deferral loop ignores it.
    val drift = 1.0
    val subSecRef = Map("tiny" -> 0.04, "ok" -> 0.04)
    assert(Bench.driftOutliers(Seq("tiny" -> 0.21, "ok" -> 0.15), subSecRef, drift) == Seq("tiny"))
    // Net-of-drift: a 6x raw ratio under 1.5x session drift is 4x net -> clean.
    assert(Bench.driftOutliers(Seq("a" -> 6.0), ref, 1.5).isEmpty)
    assert(Bench.driftOutliers(Seq("a" -> 8.0), ref, 1.5) == Seq("a"))
    // Stale anchors mirror the storm predicate: >5x UNDER + 2s absolute.
    assert(Bench.staleRefs(Seq("a" -> 1.0), Map("a" -> 8.0)) == Seq("a"))
    assert(Bench.staleRefs(Seq("a" -> 0.1), Map("a" -> 0.6)).isEmpty,
      "sub-second anchor gap is noise, not staleness")
    assert(Bench.staleRefs(Seq("a" -> 2.0), Map("a" -> 8.0)).isEmpty,
      "4x under is inside the band")
  }

  /** The environment variables the engine reads; README "Environment" lists
    * each with its default and reader. A new knob needs a row there and an
    * entry here, and a knob whose last reader is deleted must leave both. */
  private val envKnobs = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "GRAFT_BENCH_REF")

  /** Every `.scala` file under `dir` (src/main by default). */
  private def scalaFiles(dir: String = "src/main"): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no .scala file under ${root.toAbsolutePath}")
    files
  }

  test("env-knob inventory: src/main reads exactly the documented variables") {
    val files = scalaFiles()
    val read = """(?:sys\.env|System\.getenv)""".r
    val keyed = """(?:sys\.env(?:\.getOrElse|\.get|\.contains|\.apply)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val found = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      val keys = keyed.findAllMatchIn(text).map(_.group(1)).toList
      assert(read.findAllMatchIn(text).size == keys.size,
        s"$f reads the environment with a key that is not a string literal")
      keys
    }.toSet
    assert(found.contains("SPARK_GRAFT_CPUS"),
      s"scanned ${files.size} files but found no SPARK_GRAFT_CPUS read; the scan is broken")
    val undocumented = found -- envKnobs
    val unread = envKnobs -- found
    assert(undocumented.isEmpty && unread.isEmpty,
      s"env knobs read but not in the inventory: ${undocumented.toSeq.sorted.mkString(", ")}; " +
        s"in the inventory but never read: ${unread.toSeq.sorted.mkString(", ")}")
  }

  test("one predicate lane: src/main implements no v1 filter SPI") {
    // every predicate enters a graftlog scan as a V2 Predicate and goes
    // through GraftLog.v2ToV1; the v1 SPIs would bring back Spark's own
    // second translation in front of it
    val v1 = """SupportsPushDownFilters|SupportsRuntimeFiltering\b""".r
    val hits = scalaFiles().flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      v1.findAllIn(text).map(m => s"$f: $m")
    }
    assert(hits.isEmpty, s"v1 filter SPI named in src/main:\n${hits.mkString("\n")}")
  }

  /** `file:line: text` of every non-comment line under `dirs` outside the
    * one `owner` file that matches `pattern`. The owner must match it
    * itself, or the scan is broken. */
  private def outsideOwner(owner: String, pattern: scala.util.matching.Regex,
      dirs: Seq[String] = Seq("src/main")): List[String] = {
    import scala.jdk.CollectionConverters._
    val comment = """^\s*(//|\*|/\*)""".r
    val files = dirs.toList.flatMap(scalaFiles)
    val own = files.filter(_.endsWith(owner))
    assert(own.size == 1, s"$owner not among ${files.size} scanned files")
    assert(pattern.findFirstIn(new String(java.nio.file.Files.readAllBytes(own.head),
      java.nio.charset.StandardCharsets.UTF_8)).isDefined,
      s"$owner names nothing matching $pattern; the scan is broken")
    files.filterNot(own.contains).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if comment.findFirstIn(line).isEmpty &&
          pattern.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  test("one stream lifecycle: only Streams.scala starts or waits on a streaming query") {
    // every bounded streaming run goes through Streams.drain, which owns
    // the checkpoint, the shuffle scope, the wait and the stop
    val hits = outsideOwner("streaming/Streams.scala",
      """\.writeStream|awaitTermination|processAllAvailable""".r)
    assert(hits.isEmpty, s"streaming lifecycle outside Streams.drain:\n${hits.mkString("\n")}")
  }

  test("one delete-key codec: only GraftDeletes.scala names the eq-delete line codec") {
    // headers, key lines, the loader, the probe and the zone test of
    // graftlog's delete files live in GraftDeletes; every writer and
    // reader goes through its API
    val hits = outsideOwner("sources/GraftDeletes.scala",
      """EQ_DELETE_HEADER\w*|encEqKeyLine|decEqKeyLine|tupleHeaderOrds""".r)
    assert(hits.isEmpty, s"eq-delete codec named outside GraftDeletes:\n${hits.mkString("\n")}")
  }

  test("one file per concern: no src/main test hook, no sources/ file over 1,200 lines") {
    // graftlog is split along its seams (table, write, scan, stream,
    // readers, codec, predicates, maintenance, changelog, snapshots,
    // branches, stats); a file that grows past the bound has taken on a
    // second concern. Spec hooks live under src/test.
    val hooks = scalaFiles().filter(f => new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).contains("TestHook"))
    assert(hooks.isEmpty, s"src/main files naming a test hook:\n${hooks.mkString("\n")}")
    val sources = scalaFiles().filter(_.toString.contains("src/main/scala/graft/sources/"))
    assert(sources.size >= 10, s"scanned ${sources.size} sources/ files; the scan is broken")
    val long = sources.map(f => (f, java.nio.file.Files.readAllLines(f).size))
      .filter(_._2 > 1200)
    assert(long.isEmpty,
      s"sources/ files over 1,200 lines:\n${long.map { case (f, n) => s"$f: $n" }.mkString("\n")}")
  }

  test("one measured run: only Bench.scala builds a StageLog or registers a listener") {
    // Bench.measure owns the one stage log of every timed run: it
    // registers it, drains the bus after the clock stops and removes it
    val hits = outsideOwner("graft/Bench.scala", """new\s+StageLog|addSparkListener""".r)
    assert(hits.isEmpty, s"stage listener outside Bench.measure:\n${hits.mkString("\n")}")
  }

  test("one session recipe: only Sessions.scala builds a session, in src/main and src/test") {
    // Sessions.builder holds every conf and the extension; the mains, the
    // suite and perfbench all build through it
    val hits = outsideOwner("graft/Sessions.scala", """SparkSession\s*\.\s*builder""".r,
      Seq("src/main", "src/test"))
    assert(hits.isEmpty, s"session built outside Sessions:\n${hits.mkString("\n")}")
  }

  test("one registration path: the extension alone installs the custom functions") {
    // the runtime registrar is named only where it is defined; its one
    // remaining caller is perfbench
    val hits = outsideOwner("plans/GraftExtensions.scala", """\bensureRegistered\b""".r,
      Seq("src/main", "src/test"))
    assert(hits.isEmpty, s"custom functions registered outside the extension:\n${hits.mkString("\n")}")
  }

  test("Bench.measure runs the whole plan: a column a count would prune is evaluated") {
    import org.apache.spark.sql.functions.{col, udf}
    val evaluated = spark.sparkContext.longAccumulator("measure-evaluated")
    val touch = udf { (x: Long) => evaluated.add(1); x }
    val n = 1000L
    val run = Bench.measure(spark)(
      spark.range(n).select(col("id"), touch(col("id")).as("touched")))
    assert(run.error.isEmpty, s"measured run failed: ${run.error}")
    assert(evaluated.value == n,
      s"the pruned column ran on ${evaluated.value} of $n rows; the timed action is not the full plan")
    assert(run.wallS > 0 && run.stages.nonEmpty,
      s"measured run recorded wall ${run.wallS} s and ${run.stages.size} stages")
  }

  test("entry (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("each registered query is named once under operators/") {
    // a query is one value: its name, run, oracle and staging are written
    // together, so a second literal of a name means a second registry
    val texts = scalaFiles("src/main/scala/graft/operators").map(f =>
      new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
    val counts = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      n -> texts.map(_.split(java.util.regex.Pattern.quote("\"" + n + "\""), -1).length - 1).sum
    }
    val off = counts.filter(_._2 != 1)
    assert(off.isEmpty, s"query names not written exactly once under operators/: " +
      off.map { case (n, c) => s"$n x$c" }.mkString(", "))
  }

  test("every query builds and resolves (analysis succeeds) on sf0.001") {
    // every staged or fresh input a query's construction touches must
    // already have been touched by its own prepare, or Bench's setup_s
    // misses it and its warm run pays it
    import scala.jdk.CollectionConverters._
    val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Scratch.onAccess = (tag, _, _) => { touched.add(tag); () }
    try Bench.benchable.toSeq.sortBy(_._1).foreach { case (name, q) =>
      touched.clear()
      q.prepare(spark, sfDir)
      val prepared = touched.asScala.toSet
      touched.clear()
      val df = q.run(spark, sfDir)
      val undeclared = touched.asScala.toSet -- prepared
      assert(undeclared.isEmpty,
        s"$name's run stages ${undeclared.toSeq.sorted.mkString(", ")}, which its prepare does not")
      assert(df.schema.fields.nonEmpty, s"$name produced empty schema")
      assert(df.schema.fieldNames.distinct.length == df.schema.fieldNames.length,
        s"$name has duplicate column names (breaks the driver's column-sorted hash)")
    } finally Scratch.onAccess = (_, _, _) => ()
  }
}
