package graft

import org.scalatest.funsuite.AnyFunSuite

/** The artifact registry's contract: one build per (application, dir,
  * name), nested builds, nothing cached on a throwing build, honest
  * counters, and one scratch-path scheme. Application ids are passed as
  * strings so two "applications" can be exercised in one JVM. */
class ArtifactsSpec extends AnyFunSuite {
  // a fresh application id per test keeps counters and entries independent
  private def app(tag: String) = s"artifacts-spec-$tag-${System.nanoTime()}"

  test("the same key builds once; another dir or another application builds again") {
    val (a, b) = (app("a"), app("b"))
    var builds = 0
    def get(appId: String, dir: String) =
      Artifacts.getOrBuildIn(appId, dir, "thing") { builds += 1; s"$appId:$dir" }
    assert(get(a, "/d1") === s"$a:/d1")
    assert(get(a, "/d1") === s"$a:/d1")
    assert(builds === 1)
    assert(get(a, "/d2") === s"$a:/d2")
    assert(get(b, "/d1") === s"$b:/d1")
    assert(builds === 3)
  }

  test("after evict the same key builds again") {
    val a = app("evict")
    var builds = 0
    def get() = Artifacts.getOrBuildIn(a, "/d", "thing") { builds += 1; builds }
    assert(get() === 1 && get() === 1)
    Artifacts.evictIn(a, "/d")
    assert(get() === 2 && get() === 2)
    assert(builds === 2)
  }

  test("evict leaves other dirs, other applications and the counters alone") {
    val (a, b) = (app("ka"), app("kb"))
    Artifacts.getOrBuildIn(a, "/d1", "thing")("a1")
    Artifacts.getOrBuildIn(a, "/d2", "thing")("a2")
    Artifacts.getOrBuildIn(b, "/d1", "thing")("b1")
    val before = (Artifacts.statsIn(a), Artifacts.statsIn(b))
    Artifacts.evictIn(a, "/d1")
    assert((Artifacts.statsIn(a), Artifacts.statsIn(b)) === before)
    assert(Artifacts.getOrBuildIn(a, "/d2", "thing")("rebuilt") === "a2")
    assert(Artifacts.getOrBuildIn(b, "/d1", "thing")("rebuilt") === "b1")
    assert(Artifacts.statsIn(a).hits === before._1.hits + 1)
    assert(Artifacts.statsIn(b).hits === before._2.hits + 1)
  }

  test("a build may ask for another artifact: both values come back") {
    val a = app("nested")
    val outer = Artifacts.getOrBuildIn(a, "/d", "outer") {
      Artifacts.getOrBuildIn(a, "/d", "inner")(21) * 2
    }
    assert(outer === 42)
    assert(Artifacts.getOrBuildIn(a, "/d", "inner")(-1) === 21)
    assert(Artifacts.getOrBuildIn(a, "/d", "outer")(-1) === 42)
    assert(Artifacts.statsIn(a).builds === 2)
  }

  test("a throwing build caches nothing; the next call builds again") {
    val a = app("throw")
    intercept[IllegalStateException] {
      Artifacts.getOrBuildIn[String](a, "/d", "x")(throw new IllegalStateException("boom"))
    }
    assert(Artifacts.statsIn(a).builds === 0)
    assert(Artifacts.getOrBuildIn(a, "/d", "x")("ok") === "ok")
    assert(Artifacts.statsIn(a).builds === 1)
  }

  test("build and hit counters match the calls; build seconds are outermost only") {
    val a = app("count")
    (1 to 3).foreach(_ => Artifacts.getOrBuildIn(a, "/d", "p") { Thread.sleep(20); 1 })
    Artifacts.getOrBuildIn(a, "/d", "q")(Artifacts.getOrBuildIn(a, "/d", "r") { Thread.sleep(20); 2 })
    val st = Artifacts.statsIn(a)
    assert(st.builds === 3 && st.hits === 2)
    // two outermost builds each slept 20 ms; the nested one adds nothing
    assert(st.buildSeconds >= 0.04 && st.buildSeconds < 5.0)
    assert(Artifacts.statsIn(app("untouched")) === Artifacts.Stats(0, 0, 0.0))
  }

  test("scratchPath differs across applications and dirs and follows one scheme") {
    val (a, b) = (app("pa"), app("pb"))
    val p = Artifacts.scratchPathIn(a, "/data/sf1", "store")
    assert(p === s"${System.getProperty("java.io.tmpdir")}/graft_etl/store_${a}_" +
      Integer.toHexString("/data/sf1".hashCode))
    assert(Artifacts.scratchPathIn(a, "/data/sf1", "store") === p)
    assert(Artifacts.scratchPathIn(b, "/data/sf1", "store") !== p)
    assert(Artifacts.scratchPathIn(a, "/data/sf2", "store") !== p)
  }

  test("no query module keeps its own memo map, scratch path or exit hook") {
    // the query modules build through graft.Artifacts; no engine source
    // carries a second, plan-only construction path
    val dir = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the project root: $dir")
    val queries = dir.resolve("queries")
    val banned = Seq("ConcurrentHashMap", "TrieMap", "graft_etl", "addShutdownHook")
    val bannedEverywhere = Seq("planOnly", "graft.plan.only")
    val stream = java.nio.file.Files.walk(dir)
    val offenders =
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val text = java.nio.file.Files.readString(f)
          val words = bannedEverywhere ++ (if (f.startsWith(queries)) banned else Nil)
          words.filter(text.contains).map(b => s"${f.getFileName}: $b")
        }
      finally stream.close()
    assert(offenders.isEmpty,
      s"build through graft.Artifacts on the one construction path: $offenders")
  }

  test("no window of 12 code lines appears twice under src/main/scala/graft") {
    // a stage two queries share lives in one helper that both call; code
    // lines are trimmed with whitespace runs collapsed, and blank and
    // comment lines (`//`, `/*`, `*`) are skipped
    import scala.jdk.CollectionConverters._
    val window = 12
    val dir = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the project root: $dir")
    val stream = java.nio.file.Files.walk(dir)
    val files =
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      finally stream.close()
    val where = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    files.foreach { f =>
      val code = java.nio.file.Files.readAllLines(f).asScala.toVector.zipWithIndex
        .map { case (l, i) => (i + 1, l.trim.replaceAll("\\s+", " ")) }
        .filterNot { case (_, t) =>
          t.isEmpty || t.startsWith("//") || t.startsWith("/*") || t.startsWith("*") }
      code.sliding(window).filter(_.size == window).foreach { w =>
        val key = w.map(_._2).mkString("\n")
        where(key) = where.getOrElse(key, Vector.empty) :+ s"${dir.relativize(f)}:${w.head._1}"
      }
    }
    val repeats = where.values.filter(_.size > 1).map(_.mkString(" ~ ")).toSeq
    assert(repeats.isEmpty, s"${repeats.size} windows of $window code lines appear " +
      s"more than once; share each in one helper:\n${repeats.mkString("\n")}")
  }
}
