package graft.query

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame
import graft.table.GraftTable

/** Query status tracking, mirroring the reference's tracker model
  * (reference: java/query/query-core/.../tracker/QueryState.java,
  * TrackedQuery.java, QueryTrackerStore.java — there backed by DynamoDB
  * for the async serving tier). graft's execution is a synchronous Spark
  * job, so the tracker's value is operational visibility — what ran,
  * what is running, what failed and why, with row counts — behind the
  * same state machine, and a store seam a durable backend can implement.
  */
sealed abstract class QueryState(val name: String) { override def toString: String = name }

object QueryState {
  case object Queued extends QueryState("QUEUED")
  case object InProgress extends QueryState("IN_PROGRESS")
  case object Completed extends QueryState("COMPLETED")
  case object Failed extends QueryState("FAILED")
  case object PartiallyFailed extends QueryState("PARTIALLY_FAILED")

  val values: Seq[QueryState] = Seq(Queued, InProgress, Completed, Failed, PartiallyFailed)

  def fromName(n: String): QueryState =
    values.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown state $n"))

  /** State of a parent query derived from its children, if every child
    * has finished: all succeeded → COMPLETED, all failed → FAILED, mixed
    * → PARTIALLY_FAILED, any still active → None (reference:
    * QueryState.getParentStateIfFinished).
    */
  def parentStateIfFinished(children: Seq[TrackedQuery]): Option[QueryState] = {
    if (children.isEmpty) return None
    val finished = children.forall(c => c.state match {
      case Completed | Failed | PartiallyFailed => true
      case _ => false
    })
    if (!finished) None
    else if (children.forall(_.state == Completed)) Some(Completed)
    else if (children.exists(_.state == Completed)) Some(PartiallyFailed)
    else Some(Failed)
  }
}

/** One status record: a query (or sub-query) with its last known state
  * (reference: tracker/TrackedQuery.java — queryId, subQueryId,
  * lastKnownState, lastUpdateTime, rowCount, errorMessage).
  */
final case class TrackedQuery(
    queryId: String,
    subQueryId: Option[String] = None,
    state: QueryState = QueryState.Queued,
    lastUpdateMs: Long = 0L,
    rowCount: Option[Long] = None,
    errorMessage: Option[String] = None)

/** Storage seam for tracked queries (reference: QueryTrackerStore.java,
  * implemented there by DynamoDBQueryTracker). Implementations must make
  * `put` an upsert keyed on (queryId, subQueryId).
  */
trait QueryTrackerStore {
  def put(t: TrackedQuery): Unit
  def get(queryId: String, subQueryId: Option[String] = None): Option[TrackedQuery]
  def all: Seq[TrackedQuery]
  def inState(s: QueryState): Seq[TrackedQuery] = all.filter(_.state == s)
  /** Parent + children records for a query id. */
  def family(queryId: String): Seq[TrackedQuery] = all.filter(_.queryId == queryId)
}

/** In-memory tracker store: concurrent upserts keyed (queryId, subQueryId). */
final class InMemoryQueryTracker extends QueryTrackerStore {
  private val m = new ConcurrentHashMap[(String, Option[String]), TrackedQuery]()
  override def put(t: TrackedQuery): Unit = m.put((t.queryId, t.subQueryId), t)
  override def get(queryId: String, subQueryId: Option[String]): Option[TrackedQuery] =
    Option(m.get((queryId, subQueryId)))
  override def all: Seq[TrackedQuery] =
    m.values().toArray(Array.empty[TrackedQuery]).toSeq.sortBy(t => (t.queryId, t.subQueryId))
}

/** Executes queries with lifecycle tracking: QUEUED at submission,
  * IN_PROGRESS while the Spark job runs, COMPLETED with the result row
  * count, or FAILED with the error message. `execute` is the lazy
  * variant (returns the DataFrame, caller runs the action; completion is
  * recorded when the returned thunk's action is driven through `run`).
  */
final class TrackedQueryExecutor(
    table: GraftTable,
    val tracker: QueryTrackerStore = new InMemoryQueryTracker,
    clock: () => Long = () => System.currentTimeMillis()) {

  /** Shared lifecycle scaffolding: QUEUED → IN_PROGRESS → `body`, whose
    * result reports either a completion row count or a failure; a thrown
    * exception tracks FAILED and rethrows. Both entry points below are
    * this wrapper with different bodies, so lifecycle changes happen in
    * one place.
    */
  private def tracked[T](queryId: String)(body: => T)(
      outcome: T => (QueryState, Option[Long], Option[String])): T = {
    tracker.put(TrackedQuery(queryId, state = QueryState.Queued, lastUpdateMs = clock()))
    try {
      tracker.put(TrackedQuery(queryId, state = QueryState.InProgress, lastUpdateMs = clock()))
      val result = body
      val (state, rows, err) = outcome(result)
      tracker.put(TrackedQuery(queryId, state = state, lastUpdateMs = clock(),
        rowCount = rows, errorMessage = err))
      result
    } catch {
      case scala.util.control.NonFatal(e) =>
        tracker.put(TrackedQuery(queryId, state = QueryState.Failed,
          lastUpdateMs = clock(), errorMessage = Some(String.valueOf(e.getMessage))))
        throw e
    }
  }

  /** Run a query to completion (materializes the count), tracking the
    * full state lifecycle. Returns the result frame; the recorded row
    * count is the frame's count at execution time.
    */
  def run(queryId: String, q: GraftQuery): DataFrame =
    tracked(queryId) {
      val df = table.query(q)
      (df, df.count())
    } { case (_, n) => (QueryState.Completed, Some(n), None) }._1

  /** Run a query and publish its results through a [[ResultsOutput]],
    * tracking the full lifecycle — the reference's serving-tier shape
    * (execute → publish → track completion with the PUBLISHED row
    * count). A delivery error lands as FAILED with the output's error,
    * not as an exception: partial delivery is an operational state the
    * tracker must surface, exactly like the reference's
    * ResultsOutputInfo-with-error path.
    */
  def publish(queryId: String, q: GraftQuery, out: ResultsOutput): ResultsOutputInfo =
    tracked(queryId) {
      out.publish(queryId, table.query(q))
    } { info =>
      info.error match {
        case None => (QueryState.Completed, Some(info.rowCount), None)
        case Some(e) =>
          (QueryState.Failed, Some(info.rowCount), Some(String.valueOf(e.getMessage)))
      }
    }

  /** Current state for a query id, if tracked. */
  def stateOf(queryId: String): Option[QueryState] = tracker.get(queryId).map(_.state)
}
