package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo,
  GroupState,
  GroupStateTimeout,
  MapState,
  OutputMode,
  StatefulProcessor,
  TimeMode,
  TimerValues,
  TTLConfig,
  ValueState
}

import graft.core.Concept
import graft.extract.Gazetteer
import graft.kg.KgPipeline

/** One extracted TURN event flowing through the stateful stream: concepts
  * travel as an array of ORDINALS (indices into the gazetteer's concept
  * vector) packed per turn — one shuffled/decoded row per turn rather than
  * one per (turn, concept), and no strings besides the grouping key; the
  * concept-id string is reattached only at emission. */
final case class EdgeEvent(conv_id: String, turn_idx: Int, ords: Array[Int], ts: java.sql.Timestamp)

/** Emitted triple row. */
final case class TripleEdge(subj: String, pred: String, obj: String)

/** Per-conversation dedup state, primitive-keyed: each already-emitted
  * (turn_idx, concept) edge packs into one long
  * (turn_idx * nConcepts + ordinal), kept SORTED so membership is a binary
  * search and the encoder round-trip is a primitive-array copy. The earlier
  * Set[String] shape spent the bulk of each micro-batch re-encoding string
  * keys through the state store; a long[] encodes/decodes as flat bytes. */
final case class SeenEdges(keys: Array[Long], maxTsMs: Long)

/** Streaming ingest mode (optional — the reference is batch-only, SURVEY.md
  * §2.9; its incremental behavior is the checkpoint anti-join). When
  * transcripts arrive as a stream, the same extraction expression runs
  * unchanged under Structured Streaming: readStream -> watermark -> explode
  * (extraction) -> windowed aggregation, giving per-window concept counts
  * with late-data handling. The gazetteer expression is stateless, so the
  * only state is the windowed aggregation — bounded by the watermark.
  */
object StreamingIngest {

  /** transcripts stream -> per (window, concept) mention-edge counts.
    * Append-mode compatible (watermarked tumbling window). */
  def conceptCountsStream(
      spark: SparkSession,
      transcripts: DataFrame,
      concepts: Vector[Concept],
      windowDuration: String = "1 minute",
      watermarkDelay: String = "2 minutes"
  ): DataFrame = {
    val gaz = new Gazetteer(concepts)
    transcripts
      .where(KgPipeline.eligible)
      .withWatermark("ts", watermarkDelay)
      .select(
        col("ts"),
        col("conv_id"),
        explode(graft.extract.expressions.extractConceptsPresent(col("text"), gaz)).as("concept_id")
      )
      .groupBy(window(col("ts"), windowDuration), col("concept_id"))
      .agg(count(lit(1)).as("n_mentions"), approx_count_distinct(col("conv_id")).as("approx_convs"))
  }

  /** Streaming twin of [[graft.data.Sketches.hllRegisters]]: live distinct
    * cardinality over the turn-text token stream as an HLL register table.
    * The register MAX is a plain streaming aggregation in complete/update
    * mode — the state is the ≤ m register rows themselves (fixed-size
    * regardless of stream length — the whole point of the sketch), so no
    * watermark is needed and replays are absorbed for free (MAX is
    * idempotent: re-observing a token cannot change any register). After
    * any prefix of the stream, the register table equals the batch sketch
    * of exactly the rows seen — the streaming/batch parity StreamingSpec
    * asserts. */
  def hllRegistersStream(transcripts: DataFrame, m: Int = 256): DataFrame =
    transcripts
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .selectExpr(s"h % $m AS bucket", s"h div $m AS v")
      .selectExpr("bucket", "bit_count((v & -v) - 1) + 1 AS rho")
      .groupBy("bucket")
      .agg(max(col("rho")).cast("long").as("rho_max"))

  /** Streaming twin of [[graft.data.Sketches.cmsCounters]]: live token
    * FREQUENCY sketch over the turn-text stream as a Count-Min counter
    * table. Per-cell SUM is a plain streaming aggregation whose state is
    * the ≤ d·w counter rows themselves — fixed-size regardless of stream
    * length or domain size, the same posture as the HLL register stream.
    * One honesty note vs the MAX-merged sketches: SUM is NOT
    * replay-idempotent, so this twin leans on Structured Streaming's
    * checkpointed exactly-once aggregation state rather than on algebraic
    * absorption — an at-least-once upstream without dedup WOULD double
    * count here, where the HLL/MG twins absorb replays for free. After any
    * prefix of the stream the counter table equals the batch sketch of
    * exactly the rows seen (StreamingSpec asserts), so the live sketch and
    * nightly batch sketches merge interchangeably via
    * [[graft.data.Sketches.mergeCms]]. */
  def cmsCountersStream(transcripts: DataFrame, w: Int = 512, d: Int = 4): DataFrame =
    transcripts
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "") // same irregular-whitespace guard as the MG twin
      .select(posexplode(array((0 until d).map { j =>
        conv(substring(md5(concat_ws(":", lit(j.toString), col("tok"))), 1, 15), 16, 10)
          .cast("long") % w
      }: _*)).as(Seq("hrow", "bucket")))
      // long hrow, matching the batch artifact's schema exactly so the live
      // and nightly sketches union cleanly into mergeCms
      .select(col("hrow").cast("long").as("hrow"), col("bucket"))
      .groupBy("hrow", "bucket")
      .agg(count(lit(1)).as("n"))

  /** Streaming twin of [[graft.data.Sketches.kmvBottomKOf]]: a live KMV
    * bottom-k sketch over the turn-text token stream — ONE state row
    * holding the ≤ k smallest distinct token hashes (a
    * [[graft.extract.BottomKAggregate]] buffer), from which distinct
    * count, uniform token sample, and set-operation estimates
    * ([[graft.data.Sketches.kmvSetOps]]'s arithmetic) all read. Bottom-k
    * is min-like — re-observing a token cannot change the state — so like
    * the HLL register MAX (and unlike the Count-Min SUM) this twin absorbs
    * at-least-once replays for free. After any stream prefix the hash
    * array equals the batch sketch of exactly the rows seen
    * (StreamingSpec asserts), so live and nightly sketches merge
    * interchangeably. */
  def kmvStream(transcripts: DataFrame, k: Int = 256): DataFrame =
    transcripts
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy()
      .agg(graft.extract.BottomKAggregate.bottomK(col("h"), k).as("hashes"))

  /** Streaming twin of the Misra-Gries heavy-hitter candidate pass
    * ([[graft.extract.MisraGriesAggregate]]): live frequent-token summaries
    * over the turn-text stream. Tokens hash-partition into `groups` rows
    * and each group keeps ONE bounded (≤ k entries) MG summary as streaming
    * aggregation state — total state is groups·k counters regardless of
    * stream length or token-domain size, the same posture as the HLL
    * register stream above. Because the grouping is a hash PARTITION of
    * the domain (every occurrence of a token lands in the same group), the
    * per-group MG bound applies to the token's full stream count: any token
    * with count > n_g/(k+1) of its group's token mass survives that group's
    * summary, so the union of group summaries is a candidate superset for
    * any phi ≥ 1/(k+1) of the per-group mass — exact counts then come from
    * one batch verify pass, exactly as in [[graft.data.HeavyHitters]].
    * Output per group: (grp, summary map<string,long>, n). */
  def mgSummariesStream(transcripts: DataFrame, k: Int = 64, groups: Int = 8): DataFrame =
    transcripts
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      // Irregular whitespace (leading/double spaces) yields "" elements from
      // split; counting them would both surface "" as a candidate and inflate
      // each group's mass n (raising the n_g/(k+1) survival threshold for
      // real tokens), so drop them before they enter a summary.
      .filter(col("tok") =!= "")
      .select(pmod(xxhash64(col("tok")), lit(groups)).as("grp"), col("tok"))
      .groupBy("grp")
      .agg(
        graft.extract.MisraGriesAggregate.mgSketch(col("tok"), k).as("summary"),
        count(lit(1)).as("n"))

  /** STATEFUL incremental MENTIONS_CONCEPT emission — the streaming twin of
    * the batch path's distinct-by-construction dedup and the Cypher MERGE
    * contract: per-conversation state (KeyValueGroupedDataset
    * .flatMapGroupsWithState) remembers which (turn, concept) edges were
    * already emitted, so replayed or duplicated turns from an at-least-once
    * upstream emit NO duplicate edges, and a turn re-arriving with a new
    * concept emits only the new edge. State is dropped via event-time
    * timeout once the conversation falls `stateRetention` behind the
    * watermark. */
  def incrementalMentionEdges(
      spark: SparkSession,
      transcripts: DataFrame,
      concepts: Vector[Concept],
      watermarkDelay: String = "2 minutes",
      stateRetentionMs: Long = 10 * 60 * 1000L
  ): Dataset[TripleEdge] = {
    import spark.implicits._
    val gaz = new Gazetteer(concepts)
    val nC = concepts.length
    val conceptIds = concepts.map(_.wikibaseId).toArray
    val events = transcripts
      .where(KgPipeline.eligible)
      .withWatermark("ts", watermarkDelay)
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        graft.extract.expressions.extractOrdinalsPresent(col("text"), gaz).as("ords"),
        col("ts")
      )
      // mention-free turns would otherwise shuffle and create state entries
      // (the edge-grain explode dropped them implicitly)
      .where(size(col("ords")) > 0)
      .as[EdgeEvent]

    events
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, batch: Iterator[EdgeEvent], state: GroupState[SeenEdges]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(SeenEdges(Array.emptyLongArray, 0L))
            val priorKeys = prior.keys // sorted
            var maxTs = prior.maxTsMs
            val newKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
            val newSet = scala.collection.mutable.HashSet.empty[Long]
            val fresh = Vector.newBuilder[TripleEdge]
            batch.foreach { e =>
              if (e.ts.getTime > maxTs) maxTs = e.ts.getTime
              val base = e.turn_idx.toLong * nC
              var i = 0
              while (i < e.ords.length) {
                val ord = e.ords(i)
                val key = base + ord
                if (java.util.Arrays.binarySearch(priorKeys, key) < 0 && newSet.add(key)) {
                  newKeys += key
                  fresh += TripleEdge(s"${convId}_${e.turn_idx}", "MENTIONS_CONCEPT", conceptIds(ord))
                }
                i += 1
              }
            }
            val merged =
              if (newKeys.isEmpty) priorKeys
              else {
                val m = new Array[Long](priorKeys.length + newKeys.length)
                System.arraycopy(priorKeys, 0, m, 0, priorKeys.length)
                var i = 0
                while (i < newKeys.length) { m(priorKeys.length + i) = newKeys(i); i += 1 }
                java.util.Arrays.sort(m)
                m
              }
            state.update(SeenEdges(merged, maxTs))
            // anchor the timeout on the conversation's own event time, not the
            // (first-batch-zero) watermark; floor it above the watermark or
            // Spark rejects the timestamp for already-stale conversations
            state.setTimeoutTimestamp(
              math.max(maxTs + stateRetentionMs, state.getCurrentWatermarkMs() + 1000L)
            )
            fresh.result().iterator
          }
      )
  }

  /** transformWithState (Spark 4.1) twin of incrementalMentionEdges: the
    * per-conversation dedup set lives in a MapState keyed by the packed
    * (turn, concept) long, so a micro-batch reads and writes ONLY the keys
    * it touches — point lookups against the (RocksDB-required) state store —
    * instead of round-tripping the conversation's whole accumulated state
    * per batch like flatMapGroupsWithState's single value row. That is the
    * at-scale difference: a conversation with 10^6 accumulated edges costs
    * each batch O(batch keys), not O(state size). Cleanup via an event-time
    * timer re-anchored on the conversation's max event time (the previous
    * timer is deleted first so exactly one is live per key). */
  class EdgeDedupProcessor(nConcepts: Int, conceptIds: Array[String], stateRetentionMs: Long)
      extends StatefulProcessor[String, EdgeEvent, TripleEdge] {
    @transient private var seen: MapState[Long, Boolean] = _
    @transient private var maxTs: ValueState[Long] = _
    @transient private var timer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean]("seen", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      maxTs = getHandle.getValueState[Long]("maxTs", Encoders.scalaLong, TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[EdgeEvent],
        timerValues: TimerValues
    ): Iterator[TripleEdge] = {
      var mx = if (maxTs.exists()) maxTs.get() else 0L
      val fresh = Vector.newBuilder[TripleEdge]
      rows.foreach { e =>
        if (e.ts.getTime > mx) mx = e.ts.getTime
        val base = e.turn_idx.toLong * nConcepts
        var i = 0
        while (i < e.ords.length) {
          val k = base + e.ords(i)
          if (!seen.containsKey(k)) {
            seen.updateValue(k, true)
            fresh += TripleEdge(s"${key}_${e.turn_idx}", "MENTIONS_CONCEPT", conceptIds(e.ords(i)))
          }
          i += 1
        }
      }
      maxTs.update(mx)
      val next = math.max(mx + stateRetentionMs, timerValues.getCurrentWatermarkInMs() + 1000L)
      if (timer.exists()) getHandle.deleteTimer(timer.get())
      getHandle.registerTimer(next)
      timer.update(next)
      fresh.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo
    ): Iterator[TripleEdge] = {
      seen.clear()
      maxTs.clear()
      timer.clear()
      Iterator.empty
    }
  }

  /** incrementalMentionEdges on the transformWithState API — identical
    * contract (exactly-once edge emission under at-least-once replays,
    * event-time state expiry); requires the RocksDB state-store provider. */
  def incrementalMentionEdgesTws(
      spark: SparkSession,
      transcripts: DataFrame,
      concepts: Vector[Concept],
      watermarkDelay: String = "2 minutes",
      stateRetentionMs: Long = 10 * 60 * 1000L
  ): Dataset[TripleEdge] = {
    import spark.implicits._
    val gaz = new Gazetteer(concepts)
    val conceptIds = concepts.map(_.wikibaseId).toArray
    val events = transcripts
      .where(KgPipeline.eligible)
      .withWatermark("ts", watermarkDelay)
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        graft.extract.expressions.extractOrdinalsPresent(col("text"), gaz).as("ords"),
        col("ts")
      )
      // mention-free turns would otherwise shuffle and create state entries
      // (the edge-grain explode dropped them implicitly)
      .where(size(col("ords")) > 0)
      .as[EdgeEvent]
    events
      .groupByKey(_.conv_id)
      .transformWithState(
        new EdgeDedupProcessor(concepts.length, conceptIds, stateRetentionMs),
        TimeMode.EventTime(),
        OutputMode.Append()
      )
  }

  /** Streaming sessionization — the streaming twin of the batch
    * q_sessionize query (gap-based sessions), using Spark's NATIVE
    * session_window aggregation: maximal runs of a key's events with gaps
    * < `gap`, closed and emitted (append mode) once the watermark passes a
    * session's end. No custom state needed — the session-window state store
    * is Spark's own, bounded by the watermark. */
  def sessionCountsStream(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String = "user_id",
      gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col(keyCol), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")
      )

  /** Streaming triple emission: stateless transform — every micro-batch
    * appends its MENTIONS_CONCEPT edges (the batch path's exactly-once
    * bucket checkpointing is replaced by the streaming sink's own
    * checkpoint). */
  def mentionEdgesStream(spark: SparkSession, transcripts: DataFrame, concepts: Vector[Concept]): DataFrame = {
    val gaz = new Gazetteer(concepts)
    transcripts
      .where(KgPipeline.eligible)
      .select(
        concat(col("conv_id"), lit("_"), col("turn_idx").cast("string")).as("subj"),
        lit("MENTIONS_CONCEPT").as("pred"),
        explode(graft.extract.expressions.extractConceptsPresent(col("text"), gaz)).as("obj")
      )
  }
}
