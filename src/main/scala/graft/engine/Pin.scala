package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.CacheBridge

/** The materialization lifecycle: the one module that materializes
  * frames and decides how long they live.
  *
  *  - [[pin]] is a local checkpoint (eager by default, lazy with
  *    `eager = false`); [[cache]] is a lazy `persist()`. Neither changes
  *    what Spark runs: plans and job counts are those of the raw calls.
  *  - Each pin or cache belongs to the innermost open [[scoped]] block on
  *    the calling thread. When the block exits, normally or by exception,
  *    it frees every pin it owns except those its result still reads (a
  *    returned frame's checkpoint leaves and cached-data lookups, plus
  *    what those lazy pins read in turn); those move to the enclosing
  *    scope. A pin made outside every scope, or escaping the outermost
  *    one, is not held here, so its blocks live as long as the frame.
  *  - [[release]] frees one frame early, for per-round loops.
  *  - [[memo]] builds a frame once per key; its pins live for the session,
  *    outside any query scope.
  */
private[graft] object Pin {

  /** A pin: `key` is what a reader's plan names it by (the checkpoint
    * RDD id, or the cache entry); until `built()`, its plan still reads
    * the pins keyed by `upstream`. */
  private final class Held(val key: Any, upstream: Set[Any],
      built: () => Boolean, val free: () => Unit) {
    def reads: Set[Any] = if (upstream.isEmpty || built()) Set.empty
                          else upstream
  }

  private type Scope = mutable.ArrayBuffer[Held]

  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  private val memos = mutable.HashMap.empty[Any, (DataFrame, Seq[Held])]

  implicit final class Ops(private val df: DataFrame) extends AnyVal {
    /** Local checkpoint owned by the current scope. */
    def pin(eager: Boolean = true): DataFrame = Pin.pin(df, eager)
    /** `persist()` owned by the current scope. */
    def cached(): DataFrame = Pin.cache(df)
  }

  def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val reads =
      if (eager || scopes.get.isEmpty) Set.empty[Any] else readsOf(df)
    val out = df.localCheckpoint(eager)
    val rdd = out.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.get
    own(new Held(rdd.id, reads, () => rdd.isCheckpointed,
      () => rdd.unpersist(false)))
    out
  }

  def cache(df: DataFrame): DataFrame = {
    val reads = if (scopes.get.isEmpty) Set.empty[Any] else readsOf(df)
    df.persist()
    val builder = CacheBridge.builderOf(df).get
    own(new Held(builder, reads, () => CacheBridge.loaded(builder),
      () => df.unpersist(false)))
    df
  }

  /** Free `df` now: its cache entry if it is a cached frame, else the
    * checkpoint blocks its plan scans. */
  def release(df: DataFrame): Unit = {
    val keys: Set[Any] = CacheBridge.builderOf(df) match {
      case Some(b) => df.unpersist(false); Set(b)
      case None => checkpointLeaves(df).map { lr =>
        lr.rdd.unpersist(false); lr.rdd.id }.toSet
    }
    scopes.get.foreach(_.filterInPlace(h => !keys(h.key)))
  }

  /** Run `body` in a new scope; see the object doc. */
  def scoped[T](body: => T): T = {
    val outer = scopes.get
    val (result, kept) = within(outer)(body)
    outer.headOption.foreach(_ ++= kept)
    result
  }

  /** The frame built by `body` under `key`, built on first use. */
  def memo(key: Any)(body: => DataFrame): DataFrame = memos.synchronized {
    memos.getOrElseUpdate(key, within(Nil)(body))._1
  }

  /** RDD ids of the blocks the memos hold. */
  def memoRddIds: Set[Int] = memos.synchronized {
    memos.valuesIterator.flatMap(_._2).map(_.key).flatMap {
      case id: Int => Some(id)
      case b: AnyRef => CacheBridge.rddId(b)
    }.toSet
  }

  private def own(h: Held): Unit = scopes.get.headOption.foreach(_ += h)

  /** Run `body` in a fresh scope on top of `outer`; free what it pinned
    * except the pins its result reads, which are returned. */
  private def within[T](outer: List[Scope])(body: => T): (T, Seq[Held]) = {
    val saved = scopes.get
    val s: Scope = mutable.ArrayBuffer.empty
    scopes.set(s :: outer)
    var kept = Seq.empty[Held]
    try {
      val result = body
      kept = reachable(s.toSeq, result)
      (result, kept)
    } finally {
      scopes.set(saved)
      s.reverseIterator.filterNot(kept.contains).foreach(_.free())
    }
  }

  private def reachable(held: Seq[Held], result: Any): Seq[Held] =
    if (held.isEmpty) Nil
    else {
      val byKey = held.map(h => h.key -> h).toMap
      val seen = mutable.Set.empty[Any]
      var todo = keysIn(result).toList
      while (todo.nonEmpty) {
        val k = todo.head
        todo = todo.tail
        if (seen.add(k)) byKey.get(k).foreach(h => todo ++= h.reads)
      }
      held.filter(h => seen(h.key))
    }

  private def keysIn(v: Any): Set[Any] = v match {
    case df: Dataset[_] => readsOf(df.toDF())
    case it: Iterable[_] => it.iterator.flatMap(keysIn).toSet
    case p: Product => p.productIterator.flatMap(keysIn).toSet
    case _ => Set.empty
  }

  private def readsOf(df: DataFrame): Set[Any] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRDD => lr.rdd.id: Any
    }.toSet ++ CacheBridge.buildersRead(df)

  private def checkpointLeaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr
    }
}
