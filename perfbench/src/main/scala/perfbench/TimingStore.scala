package perfbench

import graft.store.{DocumentStore, EffectBatch}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delegating store for the traced run: one `store` span per call. It
  * forwards `withBatchScope` (wrapping the scoped view, so the per-batch
  * transaction identity an [[graft.store.HttpStore]] derives from it
  * survives) and `applyEffects` (so the wrapped store's own overlapped or
  * single-commit round runs as deployed), and so measures the same program
  * the untraced run executes. */
final class TimingStore(inner: DocumentStore, tracer: Tracer) extends DocumentStore {
  private def timed[T](op: String)(body: => T): T = tracer.timed("store", op)(body)

  def spark: SparkSession = inner.spark
  def assetRoot: String = inner.assetRoot

  override def withBatchScope(scope: String): DocumentStore =
    new TimingStore(inner.withBatchScope(scope), tracer)
  override def applyEffects(b: EffectBatch): Unit = timed("applyEffects")(inner.applyEffects(b))

  def read(t: String): Option[DataFrame] = timed("read")(inner.read(t))
  override def documents: DataFrame = timed("read")(inner.documents)
  override def failures: DataFrame = timed("read")(inner.failures)
  def upsertDocuments(u: DataFrame): Unit = timed("upsertDocuments")(inner.upsertDocuments(u))
  def setPublished(d: DataFrame): Unit = timed("setPublished")(inner.setPublished(d))
  def appendIdentifiers(r: DataFrame): Unit = timed("appendIdentifiers")(inner.appendIdentifiers(r))
  def upsertProperties(r: DataFrame): Unit = timed("upsertProperties")(inner.upsertProperties(r))
  def appendAssets(r: DataFrame): Unit = timed("appendAssets")(inner.appendAssets(r))
  def appendNotifications(r: DataFrame): Unit =
    timed("appendNotifications")(inner.appendNotifications(r))
  def appendFailures(r: DataFrame): Unit = timed("appendFailures")(inner.appendFailures(r))
}
