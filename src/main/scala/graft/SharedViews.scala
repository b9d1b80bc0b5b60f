package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one owner of every cached relation that outlives the method which
  * built it. Two kinds:
  *  - keyed views ([[view]]): relations several faces share (co-purchase
  *    edges, betweenness, shingles, band index, media features, ...),
  *    built once per (name, session, dir, params) and served to every
  *    later caller — the reference's compute-betweenness-once reuse
  *    (`Community.scala:56`) applied to every family;
  *  - transients ([[transient]]): a per-call persist that the returned,
  *    still-lazy relation reads, so it cannot be released before return.
  * [[clearAll]] unpersists both and forgets them: call it on fixture
  * rewrite or session teardown. The registry never picks a storage level —
  * each builder persists (or deliberately does not) at its own level, and
  * the registry stores whatever it returns. A persist that is released in
  * the method that made it needs no registration. */
object SharedViews {

  /** The name is part of the key: two views over one (session, dir,
    * params) — edges and betweenness both at minShared = 3 — stay apart. */
  private final case class Key(name: String, spark: SparkSession, dir: String,
      params: Seq[Any])

  private val views = new ConcurrentHashMap[Key, DataFrame]()
  private val transients = new ConcurrentLinkedQueue[Dataset[_]]()

  /** The view `name` over (spark, dir, params), built on first use.
    * Builders nest (betweenness → edges → incidence), so the build runs
    * OUTSIDE the map: a nested `computeIfAbsent` on one ConcurrentHashMap
    * throws `Recursive update` whenever the two keys share a bin. Two
    * threads racing on one key may both build; the loser's copy is kept as
    * a transient rather than unpersisted, because equal plans share one
    * cache entry and unpersisting it would drop the winner's too. */
  def view(name: String, spark: SparkSession, dir: String, params: Any*)(
      build: => DataFrame): DataFrame = {
    val key = Key(name, spark, dir, params)
    Option(views.get(key)).getOrElse {
      val built = build
      Option(views.putIfAbsent(key, built)) match {
        case Some(winner) => transient(built); winner
        case None => built
      }
    }
  }

  /** Records a per-call persist so [[clearAll]] releases it; returns it. */
  def transient[T](ds: Dataset[T]): Dataset[T] = { transients.add(ds); ds }

  /** Unpersists every view and transient and forgets them. */
  def clearAll(): Unit = {
    views.keySet.asScala.foreach(k => Option(views.remove(k)).foreach(release))
    Iterator.continually(transients.poll()).takeWhile(_ != null).foreach(release)
  }

  private def release(ds: Dataset[_]): Unit = scala.util.Try(ds.unpersist())
}
