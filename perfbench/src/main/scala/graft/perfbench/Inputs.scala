package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.TranscriptGen
import graft.model.TranscriptRow
import graft.util.Hashing.{range, unit}

/** Seeded benchmark inputs. Everything is a pure function of the seed
  * and the corpus shape: the program under test only ever sees the
  * tables built here, never the seed.
  *
  * @param entities planted entities
  * @param burstShare share of entities whose conversations are squeezed
  *   into two hour slots (0 = the natural corpus)
  */
case class Shape(entities: Int, burstShare: Double)

/** The generated tables. */
case class Inputs(
    transcripts: DataFrame,          // the batch-resolve input (held-in turns)
    truth: Map[String, String],      // planted conv_id → entity_id, held-in only
    batches: Seq[DataFrame],         // held-out turns, whole conversations
    attachTruth: Map[String, String], // held-out conv_id → expected entity_id
    documents: DataFrame,            // (doc_id, text)
    dupTruth: Seq[(String, String, Boolean)]) // planted (source, copy, exact?)

object Inputs {

  /** Conversations (by hash) kept out of the batch resolve and replayed
    * as attach micro-batches.
    */
  val HeldOutPct = 10
  val MicroBatches = 3
  /** Conversations (by hash) that become dedup documents. */
  val DocSharePct = 10
  /** Documents that get a planted exact copy, and (a disjoint) share
    * that get a planted one-token-longer near copy.
    */
  val DupPct = 5

  /** The burst slot: the middle hour of the natural timeline (entity e's
    * conversations start in hour e), so burst and natural rows mix.
    */
  private def burstHour(nEntities: Int): Long =
    TranscriptGen.turnsFor(0L, nEntities / 2, 0).head.ts.getTime / 3600000L

  /** The turns of conversation (e, d), with the burst rewrite applied: a
    * `burstShare` of entities move every conversation into one of two
    * hour slots — 60 % to slot A (`hourA`), 40 % to slot B — keeping turn
    * spacing. Time blocks are (hour, n_turns), so slot A's blocks
    * overflow the size cap (dropped, with telemetry) and slot B's land
    * between the hot threshold and the cap (salted).
    */
  private def turns(seed: Long, shape: Shape, hourA: Long, e: Long, d: Int): Seq[TranscriptRow] = {
    val rows = TranscriptGen.turnsFor(seed, e, d)
    if (unit(seed, 90L, e) >= shape.burstShare) rows
    else {
      val hour = hourA + (if (unit(seed, 91L, e) < 0.6) 0 else 1)
      val start = hour * 3600L + range(3000, seed, 92L, e, d.toLong)
      rows.map(r => r.copy(ts = new Timestamp((start + r.turn_idx * 10L) * 1000L)))
    }
  }

  /** Every planted conversation (entity, duplicate, turns), from
    * TranscriptGen's pure per-conversation generator (the function
    * TranscriptGen.transcripts and labels are built on), with the burst
    * rewrite applied.
    */
  def generate(seed: Long, shape: Shape): Seq[(Long, Int, Seq[TranscriptRow])] = {
    val hourA = burstHour(shape.entities)
    for {
      e <- 0L until shape.entities.toLong
      d <- 0 until TranscriptGen.dupCount(seed, e)
    } yield (e, d, turns(seed, shape, hourA, e, d))
  }

  /** Split the conversations in memory and write the two tables the
    * program reads (transcripts, documents) as parquet under `dir`.
    */
  def materialize(spark: SparkSession, seed: Long,
      convs: Seq[(Long, Int, Seq[TranscriptRow])], dir: String): Inputs = {
    import spark.implicits._
    val (held, kept) = convs.partition { case (e, d, _) =>
      unit(seed, 93L, e, d.toLong) < HeldOutPct / 100.0 }

    kept.flatMap(_._3).toDF().write.mode("overwrite").parquet(s"$dir/transcripts")
    val transcripts = spark.read.parquet(s"$dir/transcripts")
    val truth = kept.map { case (e, d, _) =>
      TranscriptGen.convId(e, d) -> TranscriptGen.entityIdOf(e) }.toMap

    // A held-out record belongs with its entity's smallest held-in member
    // (the catalog's canonical id), or mints itself when the catalog
    // holds none of its entity.
    val catalogId = kept.groupBy(_._1).map { case (e, cs) =>
      e -> cs.map(c => TranscriptGen.convId(e, c._2)).min }
    val attachTruth = held.map { case (e, d, _) =>
      val c = TranscriptGen.convId(e, d)
      c -> catalogId.getOrElse(e, c) }.toMap
    // whole conversations per micro-batch, handed over in memory as a
    // streaming source would
    val batches = held.groupBy { case (e, d, _) =>
      range(MicroBatches, seed, 94L, e, d.toLong) }
      .toSeq.sortBy(_._1).map { case (_, cs) => cs.flatMap(_._3).toDF() }

    // Dedup documents: one per sampled conversation (turn texts in
    // order), plus planted exact copies and one-token-longer near copies.
    val docs = kept.collect {
      case (e, d, ts) if unit(seed, 95L, e, d.toLong) < DocSharePct / 100.0 =>
        (e, d, TranscriptGen.convId(e, d), ts.map(_.text).mkString(" "))
    }
    val copies = docs.flatMap { case (e, d, id, text) =>
      val u = unit(seed, 96L, e, d.toLong)
      if (u < DupPct / 100.0) Some((id, s"$id#x", text, true))
      else if (u < 2 * DupPct / 100.0) Some((id, s"$id#n", s"$text appendix", false))
      else None
    }
    (docs.map(x => (x._3, x._4)) ++ copies.map(c => (c._2, c._3))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents")
    val documents = spark.read.parquet(s"$dir/documents")
    Inputs(transcripts, truth, batches, attachTruth, documents,
      copies.map(c => (c._1, c._2, c._4)))
  }

  def describe(in: Inputs): String =
    s"turns=${in.transcripts.count()} conversations=${in.truth.size} " +
      s"held_out_conversations=${in.attachTruth.size} micro_batches=${in.batches.size} " +
      s"documents=${in.documents.count()} planted_copies=${in.dupTruth.size}"
}
