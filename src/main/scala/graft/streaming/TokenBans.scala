package graft.streaming

import graft.core.WarpError
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** Banned-token lifecycle, end-to-end (A28): the reference bans a token
  * when the Warp sink returns a token-level error
  * (core/handler.go:222-248 → services/token/auth.go:27-32) and rejects
  * banned tokens at the middleware (middlewares/auth.go:41-48).
  *
  * Divergence, by design: the reference ban set is process-lifetime (the
  * configured `bannishment.duration`, default 3000 ms at cmd/root.go:54,
  * is a tarpit sleep before the 401 — a serving-layer concern a batch
  * engine can't express). Here the duration is a ban TTL instead: a
  * banned token is re-admitted once `banDurationMs` elapses, which is the
  * state machine the ban table needs at 100 TB (otherwise it only grows).
  *
  * The store lives on the driver (foreachBatch runs there); each
  * micro-batch materializes the active set as a tiny DataFrame and gates
  * the batch with a broadcast anti-join — ban sets are bounded by the
  * token universe, so broadcast is safe, unlike data-sized tables.
  * Time is injected (`nowMs`) — deterministic in tests, `
  * System.currentTimeMillis` in production wiring.
  *
  * One ban set per JVM, like the reference's process-wide map: a store
  * that a task deserializes (the Warp writer's copy) resolves to the
  * instance already in that JVM, so a ban the sink records in a task is
  * the ban the driver and the next batch see. The registry holds stores
  * weakly, so none outlives its owner.
  */
final class BanStore(val banDurationMs: Long) extends Serializable {
  private val id = java.util.UUID.randomUUID().toString
  // boxed values: a missing key must surface as null, not unbox to 0L
  private val bans = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  BanStore.resolve(this)

  private def readResolve(): AnyRef = BanStore.resolve(this)

  /** Ban (or re-ban, refreshing the window) a token. */
  def ban(token: String, nowMs: Long): Unit =
    bans.put(token, java.lang.Long.valueOf(nowMs)): Unit

  /** Banned and not yet expired? Expired entries are dropped on read. */
  def isBanned(token: String, nowMs: Long): Boolean = {
    val at = bans.get(token)
    if (at eq null) false
    else if (nowMs >= at.longValue + banDurationMs) { bans.remove(token, at); false }
    else true
  }

  /** The active (unexpired) ban set; expired entries are swept. */
  def activeTokens(nowMs: Long): Seq[String] =
    bans.entrySet().asScala.toSeq.flatMap { e =>
      if (nowMs >= e.getValue.longValue + banDurationMs) {
        bans.remove(e.getKey, e.getValue); None
      } else Some(e.getKey)
    }.sorted

  def size: Int = bans.size()
}

object BanStore {
  // keyed by each store's own id String, which only the store holds, so
  // an entry goes when its store does; the value must not hold it either
  private val live = new java.util.WeakHashMap[String, java.lang.ref.WeakReference[BanStore]]()

  /** The store with `s`'s id already in this JVM, or `s`, registered. */
  private def resolve(s: BanStore): BanStore = live.synchronized {
    Option(live.get(s.id)).flatMap(r => Option(r.get)).getOrElse {
      live.put(s.id, new java.lang.ref.WeakReference(s))
      s
    }
  }
}

/** One metered point for the streaming quota gate. */
final case class QuotaEvent(token: String, day: Long, id: Long)

object TokenBans {

  /** Streaming per-(token, day) quota admission — the streaming twin of
    * the batch `quota_enforce` query: running admitted-count state via
    * flatMapGroupsWithState; each micro-batch admits points (in id
    * order) until the key's limit is exhausted, drops the rest, and the
    * count persists across batches. State is one Long per active
    * (token, day) — bounded, checkpointable, RocksDB-backed at scale;
    * day-keyed state ages out naturally with a timeout in production
    * wiring.
    */
  def quotaLimit(
      events: org.apache.spark.sql.Dataset[QuotaEvent],
      limit: Long): org.apache.spark.sql.Dataset[QuotaEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(e => (e.token, e.day))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (String, Long), it: Iterator[QuotaEvent], state: GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val evs = it.toArray.sortBy(_.id)
          // clamp to batch size BEFORE narrowing — (limit-used) can exceed
          // Int.MaxValue and a bare .toInt would wrap negative
          val room = math.min(limit - used, evs.length.toLong).max(0L).toInt
          val admitted = evs.take(room)
          state.update(used + admitted.length)
          admitted.iterator
      }
  }

  /** Streaming WEIGHTED budget admission — the streaming twin of the
    * batch `pack_token_budget` operator (ops/Sample.budgetCap): per
    * stratum, admit rows in id order while the cumulative weight BEFORE
    * the row is under `budget` (same exclusive-prefix greedy cut, so
    * overshoot ≤ 1 row), with the spent amount persisting across
    * micro-batches. State is one Long per stratum. Rows of a stratum
    * arriving in later batches resume exactly where the budget left
    * off — the "up to N tokens per source, continuously" mixing gate.
    */
  def budgetLimit[K: org.apache.spark.sql.Encoder](
      rows: org.apache.spark.sql.Dataset[(K, Long, Long)], // (stratum, id, weight)
      budget: Long): org.apache.spark.sql.Dataset[(K, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val rowEnc: org.apache.spark.sql.Encoder[(K, Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(implicitly[org.apache.spark.sql.Encoder[K]],
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    implicit val stateEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, it: Iterator[(K, Long, Long)], state: GroupState[Long]) =>
          var spent = state.getOption.getOrElse(0L)
          val admitted = it.toArray.sortBy(_._2).iterator.filter { r =>
            val ok = spent < budget
            if (ok) spent += r._3
            ok
          }.toVector
          state.update(spent)
          admitted.iterator
      }
  }

  /** Sink failure → classification → ban-on-token-error, the
    * core/handler.go:222-248 reaction: invalid/expired/revoked token
    * bodies ban the request's token; everything else only classifies.
    */
  def recordSinkFailure(store: BanStore, body: String, token: String, nowMs: Long): WarpError = {
    val err = WarpError.classify(body, token)
    if (err.bansToken) store.ban(token, nowMs)
    err
  }

  /** Gate one micro-batch: drop rows whose `tokenCol` is actively banned
    * (middlewares/auth.go:41-48 as a broadcast anti-join).
    */
  def gate(batch: DataFrame, store: BanStore, tokenCol: String, nowMs: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val banned = spark.createDataset(store.activeTokens(nowMs)).toDF("token")
    GraphiteStream.filterBanned(batch, banned, tokenCol)
  }
}
