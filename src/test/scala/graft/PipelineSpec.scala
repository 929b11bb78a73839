package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.jar.{JarEntry, JarOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.ops.{ErMetrics, Pairs, Scoring}
import graft.pipeline.Pipeline

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-$tag-")
    p.toString
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  test("golden end-to-end: pipeline recovers planted clusters, F1 >= 0.99") {
    val nEntities = 150
    val transcripts = TranscriptGen.transcripts(spark, nEntities).toDF()
    val truth = TranscriptGen.labels(spark, nEntities).toDF()
    val root = tmpDir("golden")
    val predicted = Pipeline.run(spark, transcripts, Pipeline.Config(root))

    val m = ErMetrics.pairwise(truth, predicted, None).head()
    val f1 = m.getAs[Double]("f1")
    assert(f1 >= 0.99, s"pairwise F1 $f1 (tp=${m.getLong(0)} fp=${m.getLong(1)} fn=${m.getLong(2)})")

    // canonical labels: every predicted entity_id is the min of its cluster
    val bad = predicted.groupBy("entity_id").agg(min("conv_id").as("mn"))
      .filter(col("entity_id") =!= col("mn")).count()
    assert(bad == 0)
    deleteRecursively(Path.of(root))
  }

  test("resume is idempotent: rerun + mid-clustering kill produce identical labels") {
    val nEntities = 60
    val transcripts = TranscriptGen.transcripts(spark, nEntities).toDF()
    val root = tmpDir("resume")
    val cfg = Pipeline.Config(root)

    val first = Pipeline.run(spark, transcripts, cfg)
      .as[(String, String)].collect().sorted.toSeq

    // plain rerun: all stages resumed from manifests
    val second = Pipeline.run(spark, transcripts, cfg)
      .as[(String, String)].collect().sorted.toSeq
    assert(first == second)

    // simulate a kill mid-clustering: wipe the final entities stage and a
    // late CC iteration, keep earlier checkpoints; rerun must rebuild
    // exactly the same output from the surviving checkpoints.
    deleteRecursively(Path.of(root, "entities"))
    deleteRecursively(Path.of(root, "cc_iter_1"))
    val resumed = Pipeline.run(spark, transcripts, cfg)
      .as[(String, String)].collect().sorted.toSeq
    assert(first == resumed)

    // input change invalidates resume (fingerprint mismatch → recompute)
    val other = TranscriptGen.transcripts(spark, nEntities + 5).toDF()
    val changed = Pipeline.run(spark, other, cfg)
    assert(changed.count() > first.size)
    deleteRecursively(Path.of(root))
  }

  test("config change invalidates checkpoints (no stale-config reuse)") {
    // round-1 ADVICE item 2: rerunning with a different semantic config
    // against the SAME checkpointRoot must not reuse stale stages
    val nEntities = 40
    val transcripts = TranscriptGen.transcripts(spark, nEntities).toDF()
    val root = tmpDir("cfg")
    val loose = Pipeline.run(spark, transcripts, Pipeline.Config(root))
      .as[(String, String)].collect().sorted.toSeq
    // strong-only matching against the same root: different config
    // fingerprint → scored/entities recomputed, labels genuinely differ
    // (weak-only duplicates fall out of their clusters)
    val strongOnly = Pipeline.run(spark, transcripts,
      Pipeline.Config(root, matchType = "strong"))
      .as[(String, String)].collect().sorted.toSeq
    assert(loose != strongOnly, "strong-only run reused weak_strong checkpoints")
    val nClustersLoose = loose.map(_._2).distinct.size
    val nClustersStrong = strongOnly.map(_._2).distinct.size
    assert(nClustersStrong >= nClustersLoose)
    // and flipping back also recomputes, reproducing the original exactly
    val back = Pipeline.run(spark, transcripts, Pipeline.Config(root))
      .as[(String, String)].collect().sorted.toSeq
    assert(back == loose)
    deleteRecursively(Path.of(root))
  }

  test("a rebuild changes the code fingerprint; another build's checkpoints recompute") {
    // adding or touching a file under a code root changes its fingerprint
    val code = Files.createTempDirectory("graft-code-")
    val a = Files.writeString(code.resolve("A.class"), "a")
    val initial = Pipeline.codeFingerprint(code)
    Files.writeString(code.resolve("B.class"), "b")
    val added = Pipeline.codeFingerprint(code)
    Files.setLastModifiedTime(a,
      FileTime.fromMillis(Files.getLastModifiedTime(a).toMillis + 1000))
    val touched = Pipeline.codeFingerprint(code)
    assert(Seq(initial, added, touched).distinct.size == 3)
    // a jar is identified by its entries, so a fresh copy keeps its
    // fingerprint and a changed entry does not
    def jar(name: String, body: String): Path = {
      val p = code.resolve(name)
      val out = new JarOutputStream(Files.newOutputStream(p))
      try { out.putNextEntry(new JarEntry("A.class")); out.write(body.getBytes("UTF-8")) }
      finally out.close()
      p
    }
    val built = Pipeline.codeFingerprint(jar("a.jar", "a"))
    assert(Pipeline.codeFingerprint(Files.copy(code.resolve("a.jar"), code.resolve("copy.jar"))) == built)
    assert(Pipeline.codeFingerprint(jar("b.jar", "b")) != built)

    // the running build is the code source of the graft classes, and the
    // config fingerprint carries it
    val running = Paths.get(Pipeline.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Pipeline.CodeFingerprint == Pipeline.codeFingerprint(running))
    val transcripts = TranscriptGen.transcripts(spark, 40).toDF()
    val root = tmpDir("code")
    val cfg = Pipeline.Config(root)
    assert(Pipeline.configFingerprint(cfg).startsWith(s"${Pipeline.CodeFingerprint}-"))

    val stages = Seq("records", "blocks", "pairs", "scored", "entities")
    def manifest(stage: String) = Path.of(root, stage, "_manifest.json")
    def runIds = stages.map(st => """"run_id":"([^"]*)"""".r
      .findFirstMatchIn(Files.readString(manifest(st))).get.group(1)).distinct
    val first = Pipeline.run(spark, transcripts, cfg).as[(String, String)].collect().sorted.toSeq
    // same build: every stage resumed
    Pipeline.run(spark, transcripts, cfg.copy(runId = "same-build")).count()
    assert(runIds == Seq("run0"))
    // the same checkpoints as another build (`code`) would have written
    // them: every stage recomputed
    stages.foreach { st =>
      Files.writeString(manifest(st), Files.readString(manifest(st))
        .replace(Pipeline.CodeFingerprint, Pipeline.codeFingerprint(code)))
    }
    val rebuilt = Pipeline.run(spark, transcripts, cfg.copy(runId = "other-build"))
      .as[(String, String)].collect().sorted.toSeq
    assert(runIds == Seq("other-build"))
    assert(rebuilt == first)
    deleteRecursively(Path.of(root))
    deleteRecursively(code)
  }

  test("a node reading a file outside the graph resumes until that file changes") {
    val transcripts = TranscriptGen.transcripts(spark, 20).toDF()
    val root = tmpDir("input")
    val docs = Files.copy(Path.of("/root/testdata/sf0.001/documents.parquet"),
      Path.of(tmpDir("input-docs"), "documents.parquet"))
    def runIds(tag: String): Seq[String] = {
      val g = new Pipeline.Graph(spark, transcripts, Pipeline.Config(root, runId = tag))
      val in = g.input(docs.toString)
      val counted = g.node("doc_count", in)(in.groupBy().count())
      // a node reading that node carries the file's listing as well
      g.node("doc_total", counted)(counted.select(col("count") + 1)).count()
      Seq("doc_count", "doc_total").map(st => """"run_id":"([^"]*)"""".r
        .findFirstMatchIn(Files.readString(Path.of(root, st, "_manifest.json"))).get.group(1))
    }
    assert(runIds("first") == Seq("first", "first"))
    assert(runIds("unchanged") == Seq("first", "first"))
    Files.setLastModifiedTime(docs,
      FileTime.fromMillis(Files.getLastModifiedTime(docs).toMillis + 1000))
    assert(runIds("touched") == Seq("touched", "touched"))
    deleteRecursively(Path.of(root))
    deleteRecursively(docs.getParent)
  }

  /** The `[pipeline] dropped …` lines `body` prints on stderr. */
  private def droppedLines(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream
    val saved = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("[pipeline] dropped")).toSeq
  }

  test("over-cap run: dropped-block telemetry is counted in-band and re-reported on resume") {
    val transcripts = TranscriptGen.transcripts(spark, 60).toDF()
    val root = tmpDir("dropped")
    val cfg = Pipeline.Config(root,
      pairCfg = Pairs.PairConfig(blockSizeCap = 8, hotThreshold = 4))
    val cold = droppedLines(Pipeline.run(spark, transcripts, cfg))
    val resumed = droppedLines(Pipeline.run(spark, transcripts, cfg))
    val expected = Pairs.droppedBlockStats(
      spark.read.parquet(s"$root/blocks/data"), cfg.pairCfg).head()
    assert(expected.getLong(0) > 0, "the cap should bind on this corpus")
    assert(cold == Seq(s"[pipeline] dropped ${expected.getLong(0)} oversized blocks " +
      s"(${expected.getLong(1)} rows) at blockSizeCap=8"))
    assert(resumed == cold)
    deleteRecursively(Path.of(root))
  }

  /** Regression guard: checkpoint bookkeeping (row counts, lineage rows,
    * schema inference), the CC fixpoint signature and the dropped-block
    * stats all ride on the executions that produce the data.
    */
  test("a cold run costs one SQL execution per stage written, plus a fixed four") {
    val transcripts = TranscriptGen.transcripts(spark, 40).toDF()
    val root = tmpDir("execs")
    val (executions, _) = SqlExecutions.count(spark) {
      Pipeline.run(spark, transcripts, Pipeline.Config(root))
    }
    val written = Files.list(Path.of(root)).iterator().asScala
      .count(p => Files.exists(p.resolve("_manifest.json")))
    // records, blocks, pairs, scored, cc_iter_0, cc_iter_1.., entities
    assert(written >= 7)
    // input fingerprint, invariant audit, pairs sizing count, pairs
    // localCheckpoint
    val fixed = 4
    assert(executions <= fixed + written,
      s"$executions SQL executions for $written stages written")
    deleteRecursively(Path.of(root))
  }

  /** Regression guard: one run's generated classes fit Spark's codegen
    * cache (`spark.sql.codegen.cache.maxEntries`, set for every forked
    * JVM in build.sbt), so a second run reuses every class the first one
    * compiled. With the default 100 entries each run evicts its own
    * classes before their next use and compiles all of them again.
    */
  test("a second run in one JVM compiles no generated class") {
    val transcripts = TranscriptGen.transcripts(spark, 40).toDF()
    val roots = Seq(tmpDir("codegen-a"), tmpDir("codegen-b"))
    val Seq((_, first), (compiled, second)) = roots.map { root =>
      GeneratedClasses.count(Pipeline.run(spark, transcripts, Pipeline.Config(root))
        .as[(String, String)].collect().sorted.toSeq)
    }
    assert(compiled == 0, s"the second cold run compiled $compiled generated classes")
    assert(second == first)
    roots.foreach(r => deleteRecursively(Path.of(r)))
  }

  test("the scored checkpoint holds the pair, its features, score and decision only") {
    val transcripts = TranscriptGen.transcripts(spark, 40).toDF()
    val root = tmpDir("scored")
    Pipeline.run(spark, transcripts, Pipeline.Config(root))
    val scored = spark.read.parquet(s"$root/scored/data")
    assert(scored.columns.toSeq == Seq("a_id", "b_id", "strong_overlap",
      "jaccard_tokens", "lev_first", "jw_first", "dt_sec", "dn_turns", "score", "is_match"))
    // the same rows and values as the full scored frame, projected
    val records = spark.read.parquet(s"$root/records/data")
    val pairs = spark.read.parquet(s"$root/pairs/data")
    val full = Scoring.score(Pairs.hydrate(pairs, records)).select(scored.columns.toIndexedSeq.map(col): _*)
    assert(scored.count() > 0)
    assert(scored.exceptAll(full).isEmpty && full.exceptAll(scored).isEmpty)
    deleteRecursively(Path.of(root))
  }
}
