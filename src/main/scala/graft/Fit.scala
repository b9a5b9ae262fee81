package graft

import org.apache.spark.sql.SparkSession

/** The fit-once memo of one trained model (IVF centroids, PQ codebooks, the
  * spectral direction, probe and median, BPE merges, the k-center selection
  * and the Lloyd fits): the model is a deterministic function of the files
  * at `dir/input`, so it is fitted once per (dir, fingerprint of those
  * files) and served from the driver thereafter.
  *
  * One entry per dir: a new fingerprint (regenerated input under the same
  * dir) replaces the dir's entry instead of adding one, so a long-lived
  * driver holds at most one model per dir it has seen. The fingerprint walk
  * runs with no lock held; `fit` runs holding only its own entry's monitor
  * (single-flight per key, never a global lock — a Lloyd fit is seconds of
  * collect jobs that must not stall other models' consumers).
  *
  * [[forOracle]] is the dynamic-oracle view: Verify evaluates oracles after
  * the queries ran, and the run and its oracle must share one model. Verify
  * pins the dump's dir with the `graft.oracle.sfdir` system property, so
  * another dir's fit between the run and the dump cannot leak into the
  * oracle; the dir last served is the fallback when the property is unset. */
final class Fit[T] private (input: String) {

  private final class Held(val fp: Long) {
    @volatile var value: Option[T] = None
    def get(fit: => T): T = value.getOrElse(synchronized {
      value.getOrElse { val v = fit; value = Some(v); v }
    })
  }

  private val byDir = new scala.collection.concurrent.TrieMap[String, Held]()
  @volatile private var lastDir: Option[String] = None

  /** The model for `dir`: the held value when `dir/input` is unchanged,
    * otherwise `fit`, run at most once per (dir, fingerprint) and given that
    * fingerprint, so a persisted artifact is keyed as the entry is. */
  def apply(s: SparkSession, dir: String)(fit: Long => T): T = {
    val fp = ops.Artifacts.fingerprint(s, s"$dir/$input")
    // atomic: a stale entry for `dir` is replaced, never kept beside the new
    val held = byDir.updateWith(dir) {
      case cur @ Some(h) if h.fp == fp => cur
      case _ => Some(new Held(fp))
    }.get
    val v = held.get(fit(fp))
    lastDir = Some(dir)
    v
  }

  /** The model fitted for the oracle's dir, if it has been fitted. */
  def forOracle: Option[T] =
    sys.props.get("graft.oracle.sfdir").orElse(lastDir)
      .flatMap(byDir.get).flatMap(_.value)

  /** Number of dirs holding a model (one entry per dir, at most). */
  private[graft] def entries: Int = byDir.size
}

object Fit {
  /** A memo for a model fitted from the files at `dir/input`. */
  def apply[T](input: String): Fit[T] = new Fit[T](input)
}
