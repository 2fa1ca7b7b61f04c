package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CacheRegistry
import graft.functions.{TextAnalysis, TextSpecs}
import graft.operators.{Corpus, Dedup, FraudPipeline, RiskEngine}
import graft.plans.GraftFunctions

/** What a workload runs against: the session, its scratch directory, the
  * seed and the tracer. `force` is the traced run's layer boundary: it
  * materializes a layer's output (cached) so the layer is charged its own
  * work; untraced, the plan stays lazy exactly as a user would write it. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val tr: Tracer) {
  def force(df: DataFrame): DataFrame =
    if (!tr.enabled) df
    else { val c = df.transform(CacheRegistry.register); c.count(); c }
}

/** A closed-loop workload: one caller, and cycle i + 1 starts only after
  * cycle i (and the write step that follows it, if due) has returned. */
trait Workload {
  /** Seed-independent description of the inputs: sizes and shares. */
  def inputs: String
  /** Cycles whose outputs the digest covers (the warm-up included);
    * every run runs at least these. */
  val digestCycles = 4
  /** Input generation and initial state. Cycle 0 then runs untimed as
    * the warm-up, on the same tree as the timed cycles. */
  def setup(c: Ctx): Unit = ()
  /** Untimed producer work before cycle i (landing its input). */
  def prepare(c: Ctx, i: Int): Unit = ()
  /** One timed cycle; returns the input records it brought to a result. */
  def cycle(c: Ctx, i: Int): Long
  /** Untimed per-cycle output checks after cycle i; throws on failure. */
  def verify(c: Ctx, i: Int): Unit = ()
  /** The write step after cycle i, when due; returns its duration. */
  def between(c: Ctx, i: Int): Option[Double] = None
  /** The documents the closing Corpus.clean runs over: a fixed-size
    * input fixed by the seed, whatever the number of cycles run. */
  def cleanInput(c: Ctx): DataFrame
  /** Output checks over everything the run produced, given the closing
    * clean's (cached) output; throws on any failed check. */
  def check(c: Ctx, cycles: Int, cleaned: DataFrame): Unit
  /** Order-independent digest of the first digestCycles cycles' outputs. */
  def digest(c: Ctx): String
  /** Layer counters the workload measures itself (traced run). */
  def counters: Map[String, Double] = Map.empty
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "fraud_poll" -> (() => new FraudPoll),
    "corpus_stream" -> (() => new CorpusStream))

  val ListingSchema: StructType = StructType(Seq(
    StructField("item_id", LongType), StructField("title", StringType),
    StructField("description", StringType), StructField("price", DoubleType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def listingsDf(s: SparkSession, rows: Seq[Gen.Listing]): DataFrame =
    s.createDataFrame(rows).select(ListingSchema.fieldNames.map(col).toIndexedSeq: _*)

  def docsDf(s: SparkSession, rows: Seq[Gen.Doc]): DataFrame =
    s.createDataFrame(rows).select(col("doc_id"), col("text"))

  /** The fp01 alert step (FraudPipeline.pipelineFrom's filter and
    * projection) over a scored frame. */
  def alertsOf(scored: DataFrame): DataFrame =
    scored.filter(col("risk_score") >= FraudPipeline.AlertThreshold)
      .select(col("item_id"), col("price"), col("detected_category"),
        col("detected_condition"), col("composite_z"),
        col("estimated_value"), col("risk_score"),
        array_join(array_sort(col("risk_factors")), "|").as("risk_factors"),
        col("corrected"))

  /** (row count, sum of 64-bit row hashes): equal multisets of rows give
    * equal digests whatever the row order or partitioning. */
  def digestOf(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")

  def dirBytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !isHidden(p, f)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }
  private def isHidden(root: Path, f: Path): Boolean =
    root.relativize(f).iterator().asScala.exists { n =>
      val s = n.toString; s.startsWith(".") || s.startsWith("_")
    }

  /** The closing cleaning run with the c10 gates (line-boilerplate strip
    * plus repetition gate) and the production pair gear. Traced, each
    * text layer it composes is also run alone on the same input and
    * forced, so its cost is reported per layer. */
  def clean(c: Ctx, docs: DataFrame): DataFrame = {
    val input = c.force(docs)
    val out = c.tr.span("operators.clean") {
      c.force(Corpus.clean(input, Dedup.Routed,
        stripLineDf = Some(Corpus.MaxLineDf), repetitionGate = true))
    }
    if (c.tr.enabled) {
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode(SaveMode.Overwrite).save()
      val s = c.spark
      c.tr.span("functions.langquality") {
        noop(TextAnalysis.withLangQuality(input, col("text"), "l", "q"))
      }
      c.tr.span("plans.textstats") {
        noop(input.select(GraftFunctions.textStats(s, col("text")).as("t")))
      }
      c.tr.span("plans.fingerprint") {
        noop(input.select(GraftFunctions.fingerprint(s, col("text")).as("f")))
      }
      c.tr.span("operators.winnow") { noop(Dedup.winnowFps(input)) }
      c.tr.span("operators.dedup_pairs") {
        noop(Dedup.pairsByGear(input, Dedup.Routed))
      }
    }
    out
  }

  /** Listing text as a document, for fraud_poll's closing clean. */
  def listingDocs(items: DataFrame): DataFrame =
    items.select(col("item_id").as("doc_id"),
      concat_ws("\n", col("title"), col("description")).as("text"))
}

import Workloads._

/** fraud_poll: the reference poller. Each cycle lands a small batch of
  * new listings, reads it back with its schema, scores it against the
  * current market_stats.json and writes the alerts. Every RefreshEvery
  * cycles (every cycle, so each run times several refreshes), between
  * cycles, the stats are regenerated over everything
  * landed so far and a new stats file becomes current. */
final class FraudPoll extends Workload {
  val History = 5000
  val Batch = 1000
  val RefreshEvery = 1
  val CleanDocs = 2000
  def inputs = s"history_listings=$History listings_per_cycle=$Batch " +
    s"refresh_every=$RefreshEvery clean_docs=$CleanDocs symbolic_share=${Gen.SymbolicShare} " +
    s"spam_share=${Gen.SpamShare} underpriced_share=${Gen.UnderpricedShare}"

  private def root(c: Ctx) = s"${c.dir}/poll"
  private var epoch = 0
  private def statsPath(c: Ctx, e: Int) = s"${root(c)}/stats/market_stats.$e.json"
  /** Stats epoch each cycle scored against. */
  private val cycleEpoch = mutable.ArrayBuffer.empty[Int]
  private def batchRows(c: Ctx, i: Int) =
    Gen.listings(c.seed, 3, History.toLong + i.toLong * Batch, Batch)

  private val landed = mutable.ArrayBuffer.empty[Double]

  private def land(c: Ctx, df: DataFrame, dir: String): Unit =
    c.tr.span("sources.land") {
      graft.sources.Ingest.writeNdjson(df, dir)
      landed += dirBytes(dir)._2.toDouble
    }

  /** The schema'd NDJSON read, cached as FraudPipeline.pipelineFrom
    * caches it (stats and scoring both consume it). */
  private def read(c: Ctx, dir: String): DataFrame = c.tr.span("sources.read") {
    val items = graft.sources.Ingest.readNdjson(c.spark, dir, ListingSchema)
      .transform(CacheRegistry.register)
    if (c.tr.enabled) items.count()
    items
  }

  /** generateMarketStats → writeStats. Traced, the extraction
    * (TextSpecs.withSpecs) is forced at its own boundary and the
    * routing + aggregation run over it — the same three calls
    * generateMarketStats makes. */
  private def refreshStats(c: Ctx, items: DataFrame, path: String): Unit =
    c.tr.span("operators.stats") {
      val rows =
        if (!c.tr.enabled) RiskEngine.generateMarketStats(items)
        else {
          val specced = c.tr.span("functions.extract") {
            c.force(TextSpecs.withSpecs(items, col("title"), col("description")))
          }
          RiskEngine.aggregateStats(RiskEngine.routeItems(specced),
            x => GraftFunctions.pyRound(c.spark, x, 2))
        }
      RiskEngine.writeStats(rows, path)
    }

  private def scoreAndSink(c: Ctx, items: DataFrame, statsPath: String,
      out: String): Unit = {
    val scored = c.tr.span("operators.score") {
      c.force(RiskEngine.scorePipeline(items,
        RiskEngine.statsRowsFromJson(c.spark, statsPath)))
    }
    alertsOf(scored).write.mode(SaveMode.Overwrite).parquet(out)
  }

  override def counters: Map[String, Double] = Map(
    "sources.bytes_landed" ->
      (if (landed.isEmpty) 0.0 else landed.sum / landed.size))

  override def setup(c: Ctx): Unit = {
    graft.sources.Ingest.writeNdjson(
      listingsDf(c.spark, Gen.listings(c.seed, 3, 0, History)),
      s"${root(c)}/landed/batch=history/ndjson")
    CacheRegistry.scoped {
      refreshStats(c, read(c, s"${root(c)}/landed/*/ndjson"), statsPath(c, 0))
    }
  }

  private var pending: DataFrame = _

  override def prepare(c: Ctx, i: Int): Unit =
    pending = listingsDf(c.spark, batchRows(c, i))

  def cycle(c: Ctx, i: Int): Long = CacheRegistry.scoped {
    cycleEpoch += epoch
    val out = s"${root(c)}/landed/batch=$i"
    land(c, pending, s"$out/ndjson")
    scoreAndSink(c, read(c, s"$out/ndjson"), statsPath(c, epoch), s"$out/alerts")
    Batch.toLong
  }

  override def between(c: Ctx, i: Int): Option[Double] =
    if ((i + 1) % RefreshEvery != 0) None
    else {
      val t0 = System.nanoTime()
      c.tr.span("refresh") {
        CacheRegistry.scoped {
          // only the ndjson level of each landed batch holds listings
          val all = graft.sources.Ingest.readNdjson(c.spark,
            s"${root(c)}/landed/*/ndjson", ListingSchema)
          refreshStats(c, all, statsPath(c, epoch + 1))
        }
      }
      epoch += 1
      Some((System.nanoTime() - t0) / 1e9)
    }

  private def alerts(c: Ctx, cycles: Seq[Int]): DataFrame =
    c.spark.read.parquet(cycles.map(i => s"${root(c)}/landed/batch=$i/alerts"): _*)

  def cleanInput(c: Ctx): DataFrame = listingDocs(
    listingsDf(c.spark, Gen.listings(c.seed, 3, 0, CleanDocs)))

  /** Each cycle's alerts equal a one-shot scoring of the same generated
    * rows (never landed) against the same stats file; cycles that share
    * a stats file are checked together. */
  def check(c: Ctx, cycles: Int, cleaned: DataFrame): Unit = {
    expect(cycleEpoch.size == cycles, s"${cycleEpoch.size} epochs for $cycles cycles")
    (0 until cycles).groupBy(cycleEpoch).foreach { case (e, is) =>
      val rows = is.flatMap(i => batchRows(c, i))
      val oneShot = digestOf(alertsOf(RiskEngine.scorePipeline(
        listingsDf(c.spark, rows), RiskEngine.statsRowsFromJson(c.spark, statsPath(c, e)))))
      val got = digestOf(alerts(c, is))
      expect(got == oneShot,
        s"cycles ${is.mkString(",")} alerts $got != one-shot scoring $oneShot")
    }
    expect(digestOf(alerts(c, 0 until cycles))._1 > 0, "no alerts raised")
    expect(cleaned.join(cleanInput(c), Seq("doc_id"), "left_anti").isEmpty,
      "clean output holds a doc_id outside its input")
  }

  def digest(c: Ctx): String = {
    val (n, h) = digestOf(alerts(c, 0 until digestCycles))
    s"alerts=$n:$h"
  }
}

/** corpus_stream: the training-data side. Seeded documents arrive as
  * micro-batches through the streaming near-dup gate (repetition gate
  * on) against growing state; maintenance runs every MaintainEvery
  * triggers (every trigger, so each run times several), between
  * triggers. */
final class CorpusStream extends Workload {
  val Batch = 1000
  val MaintainEvery = 1
  val CleanTriggers = 2
  def inputs = s"docs_per_trigger=$Batch maintain_every=$MaintainEvery " +
    s"clean_docs<=${CleanTriggers * Batch} near_dup_share=${Gen.NearDupShare} " +
    s"degenerate_share=${Gen.DegenerateShare}"

  private var inputDocs = 0L
  private var keptDocs = 0L
  private var lastKept = 0L
  private var stateFiles = 0L
  private var stateBytes = 0L

  private def dir(c: Ctx) = s"${c.dir}/stream"
  private def ids(i: Int): Long = i.toLong * Batch
  private def rows(c: Ctx, i: Int) = Gen.docs(c.seed, 0L, ids(i), Batch)


  /** The producer's side: the trigger's documents land in the inbox. */
  override def prepare(c: Ctx, i: Int): Unit =
    graft.sources.Ingest.writeNdjson(docsDf(c.spark, rows(c, i)),
      s"${dir(c)}/inbox/batch=$i")

  def cycle(c: Ctx, i: Int): Long = CacheRegistry.scoped {
    val batch = c.tr.span("sources.read") {
      c.force(graft.sources.Ingest.readNdjson(c.spark, s"${dir(c)}/inbox/batch=$i",
        DocSchema))
    }
    lastKept = c.tr.span("streaming.gate") {
      graft.streaming.Ingest.gateBatch(batch, i, s"${dir(c)}/docs", s"${dir(c)}/fp",
        repetitionGate = true)
    }
    Batch.toLong
  }

  /** kept + dropped == input, admitted ids unique and drawn from the
    * input, and every repetition-degenerate and near-dup doc dropped. */
  override def verify(c: Ctx, i: Int): Unit = {
    val written = c.spark.read.parquet(s"${dir(c)}/docs/batch=$i")
      .select("doc_id").collect().map(_.getLong(0))
    val in = rows(c, i).map(_.doc_id).toSet
    expect(written.length == lastKept,
      s"trigger $i: gate returned $lastKept, wrote ${written.length}")
    expect(written.distinct.length == written.length, s"trigger $i: duplicate admitted doc_id")
    expect(written.forall(in), s"trigger $i: admitted doc_id not in its input")
    val dropped = in -- written
    expect(lastKept + dropped.size == in.size,
      s"trigger $i: kept $lastKept + dropped ${dropped.size} != input ${in.size}")
    val leaked = written.filter(id => Gen.docKind(c.seed, 0L, id) != 0)
    expect(leaked.isEmpty,
      s"trigger $i: near-dup/degenerate docs admitted: ${leaked.take(5).mkString(",")}")
    inputDocs += in.size; keptDocs += lastKept
    if (c.tr.enabled) {
      val (files, bytes) = dirBytes(s"${dir(c)}/fp")
      stateFiles = files; stateBytes = bytes
    }
  }

  override def between(c: Ctx, i: Int): Option[Double] =
    if ((i + 1) % MaintainEvery != 0) None
    else {
      val t0 = System.nanoTime()
      c.tr.span("streaming.maintain") {
        graft.streaming.Ingest.maintain(c.spark, s"${dir(c)}/docs", s"${dir(c)}/fp",
          belowBatch = i + 1L)
      }
      Some((System.nanoTime() - t0) / 1e9)
    }

  private def admitted(c: Ctx): DataFrame =
    c.spark.read.schema(DocSchema).parquet(s"${dir(c)}/docs")

  def cleanInput(c: Ctx): DataFrame =
    admitted(c).filter(col("doc_id") < ids(CleanTriggers))

  def check(c: Ctx, cycles: Int, cleaned: DataFrame): Unit = {
    val a = admitted(c).select("doc_id")
    val n = a.count()
    expect(n == a.distinct().count(), "admitted doc_ids are not unique")
    expect(n == keptDocs, s"admitted $n != kept $keptDocs")
    expect(cleaned.join(cleanInput(c), Seq("doc_id"), "left_anti").isEmpty,
      "clean output is not a subset of the admitted corpus")
  }

  def digest(c: Ctx): String = {
    val (n, h) = digestOf(admitted(c).filter(col("doc_id") < ids(digestCycles)))
    s"admitted=$n:$h"
  }

  override def counters: Map[String, Double] = Map(
    "streaming.state_files" -> stateFiles.toDouble,
    "streaming.state_bytes" -> stateBytes.toDouble,
    "streaming.keep_ratio" ->
      (if (inputDocs == 0) 0.0 else keptDocs.toDouble / inputDocs))
}
