package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.ParquetTableIO
import graft.ops._
import graft.pipeline.Pipeline

/** The traced run: the stage sequence of `Pipeline.run`, then fusion,
  * swoosh, attach and dedup, driven call by call so each layer call sits
  * in its own span. A layer's output is materialized inside its span
  * (localCheckpoint), and the stages `Pipeline` checkpoints are then
  * written through `ParquetTableIO` in a child `tableio` span — so the
  * layer's self time is its compute and the write is table I/O.
  */
object Traced {

  val Layers: Seq[String] = Seq("collapse", "features", "blocking", "pairs", "hydrate",
    "scoring", "cc", "entities", "swoosh", "attach", "tableio", "pipeline",
    "dedup.exact", "dedup.minhash", "dedup.simhash")

  val Families: Seq[String] = Seq("strong", "token", "minhash", "time")

  private def mat(df: DataFrame, s: Span): DataFrame = {
    val m = df.localCheckpoint(true)
    s.attrs("rows") = m.count().toDouble
    m
  }

  /** One traced pass; returns counts recorded at the layer boundaries. */
  def sequence(spark: SparkSession, in: Inputs, tr: Tracer, ledger: Ledger,
      root: String): Map[String, Double] = {
    import spark.implicits._
    val cfg = Settings.pipeline(root)
    val io = new ParquetTableIO(root)
    val counts = mutable.LinkedHashMap.empty[String, Double]
    var fp = ""
    def write(stage: String, df: DataFrame): DataFrame = tr("tableio.write", "tableio") { s =>
      val back = io.write(df, stage, cfg.runId, fp)
      s.attrs("rows") = Sequence.manifestRows(root, stage).toDouble
      back
    }

    val (records, blocks, pairs, scored, labels) = tr("pipeline", "pipeline") { _ =>
      fp = tr("pipeline.fingerprint", "pipeline") { _ =>
        s"${Pipeline.fingerprint(in.transcripts)}-${Pipeline.configFingerprint(cfg)}"
      }
      val collapsed = tr("collapse", "collapse")(s => mat(Collapse.collapse(in.transcripts), s))
      val records = tr("features", "features") { s =>
        write("records", mat(Features.enrich(collapsed), s))
      }
      tr("pipeline.audit", "pipeline") { _ =>
        val v = Collapse.invariantViolations(in.transcripts, records).count()
        ledger.check("pipeline.audit", v == 0L, s"$v invariant violations")
      }
      val blocks = tr("blocking", "blocking") { s =>
        val fams = Seq(
          Blocking.strongBlocks(records),
          Blocking.tokenBlocks(records, cfg.tokenDfCap),
          Blocking.minhashBlocks(records),
          Blocking.timeBlocks(records)).zip(Families).map { case (b, name) =>
          tr(s"blocking.$name", "blocking") { f =>
            val m = b.localCheckpoint(true)
            counts(s"blocking.$name.rows") = m.count().toDouble
            m
          }
        }
        val all = fams.reduce(_ unionByName _)
        s.attrs("rows") = Families.map(f => counts(s"blocking.$f.rows")).sum
        write("blocks", all)
      }
      val pairs = tr("pairs", "pairs") { s =>
        write("pairs", mat(Pairs.candidatePairs(blocks, cfg.pairCfg), s))
      }
      tr("pipeline.dropped_stats", "pipeline") { _ =>
        Pairs.droppedBlockStats(blocks, cfg.pairCfg).write.mode("overwrite")
          .parquet(s"$root/pairs/_dropped_blocks")
        spark.read.parquet(s"$root/pairs/_dropped_blocks").head()
      }
      val hydrated = tr("hydrate", "hydrate")(s => mat(Pairs.hydrate(pairs, records), s))
      val scored = tr("scoring", "scoring") { s =>
        write("scored", mat(Scoring.score(hydrated, cfg.matchType, cfg.jaccardThreshold), s))
      }
      val labels = tr("cc", "cc") { s =>
        var iters = 0
        val lab = ConnectedComponents.run(Scoring.matchEdges(scored), records.select("conv_id"),
          checkpoint = (df, i) => { iters = i; write(s"cc_iter_$i", df.localCheckpoint(true)) })
        val m = lab.localCheckpoint(true)
        s.attrs("rows") = m.count().toDouble
        counts("cc.iterations") = iters.toDouble
        m
      }
      (records, blocks, pairs, scored, labels)
    }
    val f1 = Sequence.pairwiseF1(in.truth, labels)
    ledger.check("traced.f1", f1 >= Settings.minF1, s"pairwise F1 $f1 < ${Settings.minF1}")

    // read side of table I/O: every checkpointed stage, scanned in full
    Seq("records", "blocks", "pairs", "scored").foreach { st =>
      tr("tableio.read", "tableio") { _ =>
        io.read(spark, st).write.format("noop").mode("overwrite").save()
      }
    }

    val catalog = tr("entities", "entities")(s => mat(Entities.fuse(records, labels), s))
    tr("swoosh", "swoosh") { s =>
      // Swoosh.refineToFixpoint's loop, round by round, to count rounds
      var cur = labels
      var changed: Option[DataFrame] = None
      var rounds = 0
      var converged = false
      while (!converged && rounds < 5) {
        rounds += 1
        val next = Swoosh.refine(records, cur, pairCfg = cfg.pairCfg, changedOnly = changed)
          .localCheckpoint(true)
        val delta = cur.select(col("conv_id"), col("entity_id").as("old_e"))
          .join(next, "conv_id").filter(col("entity_id") =!= col("old_e"))
          .select(col("entity_id")).distinct().localCheckpoint(true)
        converged = delta.isEmpty
        changed = Some(delta)
        cur = next
      }
      s.attrs("rows") = cur.count().toDouble
      counts("swoosh.rounds") = rounds.toDouble
      counts("swoosh.merges") = (labels.select("entity_id").distinct().count() -
        cur.select("entity_id").distinct().count()).toDouble
    }

    var minted = 0L
    var attached = 0L
    var correct = 0L
    val enrichedBatches = in.batches.map { batch =>
      tr("attach", "attach") { s =>
        val enriched = tr("attach.enrich", "attach") { _ =>
          Features.enrich(Collapse.collapse(batch)).localCheckpoint(true)
        }
        val got = Incremental.attach(enriched, catalog).as[(String, String)].collect()
        s.attrs("rows") = got.length.toDouble
        minted += got.count { case (c, e) => c == e }
        attached += got.length
        correct += Sequence.attachCorrect(in, got)
        enriched
      }
    }
    counts("attach.new_entity_frac") = minted.toDouble / math.max(1L, attached)
    counts("attach.accuracy") = correct.toDouble / in.attachTruth.size
    ledger.check("attach.complete", attached == in.attachTruth.size,
      s"$attached assignments for ${in.attachTruth.size} held-out records")
    ledger.check("attach.accuracy", counts("attach.accuracy") >= Settings.minAttachAccuracy,
      s"attach accuracy ${counts("attach.accuracy")} < ${Settings.minAttachAccuracy}")

    val exact = tr("dedup.exact", "dedup.exact")(s => mat(Dedup.exact(in.documents), s))
    val verified = tr("dedup.minhash", "dedup.minhash") { s =>
      mat(Dedup.minhashPairs(in.documents, Settings.minhashTau), s)
    }
    val simhash = tr("dedup.simhash", "dedup.simhash") { s =>
      mat(Dedup.simhashPairs(in.documents, Settings.simhashHamming), s)
    }
    def pairSet(df: DataFrame) = df.select("a_doc", "b_doc").as[(String, String)].collect().toSet
    counts("dedup.recall") = Sequence.checkDedup(ledger, in,
      exact.select("doc_id", "group_key").as[(String, String)].collect().toMap,
      pairSet(verified), pairSet(simhash))

    // Counts at the same boundaries, computed after the pass so that
    // no span carries them.
    val bs = Sequence.blockStats(blocks, cfg.pairCfg)
    counts("blocking.hot_blocks") = bs.hotBlocks.toDouble
    counts("blocking.dropped_blocks") = bs.droppedBlocks.toDouble
    counts("pairs.salted_rows") = bs.saltedRows.toDouble
    counts("pairs.redundancy") = bs.withinBlockPairs / math.max(1.0, pairs.count().toDouble)
    counts("scoring.match_ratio") =
      Scoring.matchEdges(scored).count() / math.max(1.0, scored.count().toDouble)
    counts("attach.candidates_per_record") = attachCandidates(in, enrichedBatches, catalog)
    val buckets = Dedup.withShingleBands(in.documents)
      .select(col("doc_id").as("conv_id"), explode(col("bands")).as("bkey"))
    counts("dedup.minhash.verify_ratio") =
      verified.count() / math.max(1.0, Pairs.candidatePairs(buckets).count().toDouble)
    counts("tableio.bytes_mb") = Files.walk(Paths.get(root)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum() / 1048576.0
    catalog.unpersist()
    counts.toMap
  }

  /** Catalog entities per held-out record that share a strong key or a
    * df-capped token with it — the candidate rule of Incremental.attach,
    * recomputed over the enriched micro-batches.
    */
  private def attachCandidates(in: Inputs, enriched: Seq[DataFrame], catalog: DataFrame): Double = {
    val recs = enriched.reduce(_ unionByName _).select("conv_id", "token_set", "strong_keys")
    val strongCap = Pairs.PairConfig().blockSizeCap
    val sIdx = catalog.select(col("entity_id"), explode(col("strong_keys_union")).as("k"))
    val sKeep = sIdx.groupBy("k").count().filter(col("count") <= strongCap).select("k")
    val tIdx = catalog.select(col("entity_id"), explode(col("token_union")).as("k"))
    val tKeep = tIdx.groupBy("k").count()
      .filter(col("count") <= Blocking.DefaultTokenDfCap).select("k")
    val idx = sIdx.join(sKeep, "k").unionByName(tIdx.join(tKeep, "k"))
    val keys = recs.select(col("conv_id"), explode(col("strong_keys")).as("k"))
      .unionByName(recs.select(col("conv_id"), explode(col("token_set")).as("k")))
    val n = keys.join(idx, "k").select("conv_id", "entity_id").distinct().count()
    n.toDouble / math.max(1, in.attachTruth.size)
  }

  /** One traced pass in a fresh JVM. Its pipeline span is the traced
    * counterpart of the untraced run's cold resolve: both are the first
    * Pipeline.run of their JVM, so trace.pipeline_s − resolve_s is the
    * tracing overhead.
    */
  def run(spark: SparkSession, in: Inputs, probe: Probe, work: String, ledger: Ledger,
      runId: String, traceOut: Option[String]): Seq[(String, (Double, String))] = {
    val tr = new Tracer(spark.sparkContext, runId)
    val root = s"$work/ckpt-${java.util.UUID.randomUUID()}"
    val counts =
      try ledger.op("traced")(sequence(spark, in, tr, ledger, root))
      finally Sequence.deleteTree(root)
    if (counts.isEmpty) return Seq.empty

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val spans = tr.spans.toSeq
    Layers.foreach { layer =>
      val ls = spans.filter(_.layer == layer)
      val acc = new Acc
      ls.foreach(s => acc.add(probe.group(s.group)))
      out(s"$layer.self_s") = (ls.map(tr.selfSeconds).sum, "s")
      out(s"$layer.cpu_s") = (acc.cpuNs / 1e9, "s")
      out(s"$layer.shuffle_mb") = (acc.shuffleBytes / 1048576.0, "MB")
      out(s"$layer.spill_mb") = (acc.spillBytes / 1048576.0, "MB")
      out(s"$layer.rows_out") = (ls.flatMap(_.attrs.get("rows")).sum, "rows")
      out(s"$layer.task_skew") = (acc.skew, "ratio")
    }
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val pipelineSpan = spans.find(_.name == "pipeline").get
    val childS = spans.filter(_.parent == pipelineSpan.id).map(_.seconds).sum
    val units = Map("blocking.hot_blocks" -> "count", "blocking.dropped_blocks" -> "count",
      "cc.iterations" -> "count", "swoosh.rounds" -> "count", "swoosh.merges" -> "count",
      "pairs.salted_rows" -> "rows", "attach.candidates_per_record" -> "count",
      "tableio.bytes_mb" -> "MB").withDefault(k =>
      if (k.endsWith(".rows")) "rows" else "ratio")
    counts.get.foreach { case (k, v) => out(k) = (v, units(k)) }
    out("tableio.write_s") = (total("tableio.write"), "s")
    out("tableio.read_s") = (total("tableio.read"), "s")
    out("pipeline.fingerprint_s") = (total("pipeline.fingerprint"), "s")
    out("pipeline.audit_s") = (total("pipeline.audit"), "s")
    out("pipeline.dropped_stats_s") = (total("pipeline.dropped_stats"), "s")
    out("pipeline.overhead_s") = (pipelineSpan.seconds - childS, "s")
    out("attach.enrich_s") = (total("attach.enrich"), "s")
    out("trace.pipeline_s") = (pipelineSpan.seconds, "s")
    System.err.println(f"[perfbench] traced pipeline span ${pipelineSpan.seconds}%.2f s")

    traceOut.foreach { path =>
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val spanJson = spans.map { s =>
        val acc = probe.group(s.group)
        s"""{"id": ${s.id}, "name": "${esc(s.name)}", "layer": "${esc(s.layer)}", """ +
          s""""parent": ${s.parent}, "run_id": "${esc(s.runId)}", "start_ns": ${s.startNs}, """ +
          s""""end_ns": ${s.endNs}, "cpu_ns": ${acc.cpuNs}, "shuffle_bytes": ${acc.shuffleBytes}, """ +
          s""""spill_bytes": ${acc.spillBytes}, "tasks": ${acc.tasks}, "attrs": {""" +
          s.attrs.map { case (k, v) => s""""${esc(k)}": $v""" }.mkString(", ") + "}}"
      }
      val metricJson = out.map { case (k, (v, u)) =>
        s""""${esc(k)}": {"value": $v, "unit": "$u"}""" }
      Files.createDirectories(Paths.get(path).getParent)
      Files.writeString(Paths.get(path),
        s"""{"run_id": "${esc(runId)}", "metrics": {""" +
          metricJson.mkString(", ") + "}, \"spans\": [\n" + spanJson.mkString(",\n") + "\n]}\n")
    }
    out.toSeq
  }
}
