package graft.queries

import scala.collection.concurrent.TrieMap
import scala.util.DynamicVariable

/** One trained oracle constant (centroids, codebooks, BPE merges, the
  * session a near-dup query read its corpus with), memoized per data dir.
  *
  * Query builders go through [[apply]], so training runs once per JVM per
  * dir. The dump-time oracle thunk reads the value back with [[forDump]]:
  * for the dir a dumper declared with [[Trained.dumpingFor]], else for
  * the dir a builder asked for most recently (an ad-hoc read outside any
  * dump, such as a pin run). Two dirs in one JVM therefore never embed
  * each other's constants into a declared dump. When nothing was trained
  * for that dir, [[forDump]] throws and [[Registry.oracleSqlFor]] turns
  * the throw into that one query's failure sentinel. */
final class Trained[T](what: String) {
  private val byDir = new TrieMap[String, T]()
  @volatile private var recentDir: Option[String] = None

  /** `sfDir`'s constant, trained by `train` on the first call for it. */
  def apply(sfDir: String)(train: => T): T = {
    val value = byDir.getOrElseUpdate(sfDir, train)
    recentDir = Some(sfDir)
    value
  }

  /** The constant the oracle being dumped must embed. */
  def forDump: T = {
    val dir = Trained.declared.value.orElse(recentDir)
    dir.flatMap(byDir.get).getOrElse(throw new IllegalStateException(
      s"no $what memoized for ${dir.getOrElse("any data dir")} in this " +
        "JVM: its query did not run there before the dump"))
  }
}

object Trained {
  private val declared = new DynamicVariable[Option[String]](None)

  /** Runs `body` (an oracle dump) with `sfDir` as the dir every
    * [[Trained.forDump]] inside it reads. */
  def dumpingFor[A](sfDir: String)(body: => A): A =
    declared.withValue(Some(sfDir))(body)
}
