package graft.core

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** An intermediate result that several queries share, such as the
  * co-purchase pair frame, an LPA assignment, an NB model or an IVF
  * index, declared once where it is defined: its build, its owner query
  * and its consumer queries.
  *
  * The OWNER always rebuilds the result through [[fresh]] and stores it,
  * so its timing is the real build cost and a bench total counts the
  * build exactly once. A CONSUMER calls [[apply]], which reuses the
  * stored copy when there is one and otherwise builds and stores it, so
  * a consumer's warm timing is not its standalone cost; `graft.Bench`
  * reports each consumer's owners, taken from these declarations
  * ([[Shared.owners]]). Every shared result is deterministic, so reuse
  * cannot move an output.
  *
  * Entries are keyed by (session, fixture dir). They live as long as
  * their SparkContext: every lookup first drops the entries of stopped
  * contexts, so a dead session and its frames do not stay reachable and
  * no session is served a frame whose blocks died with its context. A
  * replaced entry is not unpersisted: a frame built from it may not
  * have run yet, and the context cleaner frees unreferenced blocks.
  */
final class Shared[A] private (val owner: String,
    val consumers: Set[String], build: (SparkSession, String) => A) {

  /** The owner's path: rebuild, replace the stored entry, return it. */
  def fresh(s: SparkSession, dir: String): A = {
    Shared.dropStopped()
    val a = build(s, dir)
    Shared.entries.put((this, s, dir), a)
    a
  }

  /** A consumer's path: the stored entry when there is one, else
    * [[fresh]]. */
  def apply(s: SparkSession, dir: String): A = {
    Shared.dropStopped()
    Shared.entries.get((this, s, dir)).fold(fresh(s, dir))(_.asInstanceOf[A])
  }

  /** The stored entry, looked up without dropping anything. */
  private[core] def stored(s: SparkSession, dir: String): Option[A] =
    Shared.entries.get((this, s, dir)).map(_.asInstanceOf[A])
}

object Shared {
  private val entries = TrieMap.empty[(Shared[_], SparkSession, String), Any]
  private val declared = TrieMap.empty[Shared[_], Unit]

  def apply[A](owner: String, consumers: String*)(
      build: (SparkSession, String) => A): Shared[A] = {
    val sh = new Shared(owner, consumers.toSet, build)
    declared.put(sh, ())
    sh
  }

  /** Consumer query -> the sorted owners of the results it reuses, over
    * every result declared so far (a query object declares its results
    * when it is initialized, e.g. by `graft.SparkEntry.queries`). */
  def owners: Map[String, Seq[String]] =
    declared.keys.toSeq
      .flatMap(sh => sh.consumers.map(_ -> sh.owner))
      .groupMap(_._1)(_._2).map { case (c, os) => c -> os.distinct.sorted }

  private def dropStopped(): Unit =
    entries.keys.foreach { k =>
      if (k._2.sparkContext.isStopped) entries.remove(k)
    }
}
