package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The spell-suggest dictionary on EPOCH manifests ([[Epoch]]) — the one
  * way a suggest dictionary is built and maintained. Every suggest
  * mutation is a signed df merge that rewrites the whole delkey
  * dictionary ([[Suggest.mergedDict]]), so each one lands as a fresh
  * generation behind one atomic manifest rename, exactly-once on the
  * manifest ledger. A layout holds ONE dictionary ([[Suggest.Dict]]:
  * distance-1 `delnbr` or distance-2 `delnbr2`), chosen at [[create]]
  * and recorded in the manifest: its one component is named by the
  * dictionary's directory, so every mutation maintains the dictionary
  * the layout holds. Serving reuses the [[Suggest]] faces pointed at
  * the CURRENT generation directory ([[currentGen]], the dictionary
  * directory inside), so the pushed-`In(delkey,…)` candidate read and
  * the bounded-batch serving are the same for every generation. */
object EpochSuggest {

  /** Epoch 0: `dict` built over `docs`. */
  def create(s: SparkSession, docs: DataFrame, path: String,
      dict: Suggest.Dict): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    Suggest.buildSuggest(docs, g, dict)
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(dict.dir -> Seq("g0")), Seq.empty))
  }

  private def current(s: SparkSession, path: String): Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochSuggest: no committed epoch at $path — create first"))

  /** The dictionary a manifest holds: the one named component. */
  private def dictOf(m: Epoch.Manifest): Suggest.Dict =
    Seq(Suggest.Distance1, Suggest.Distance2)
      .find(d => m.components.contains(d.dir)).get

  /** The CURRENT generation root (`<gen>/delnbr` or `<gen>/delnbr2`
    * inside); pass it to any [[Suggest]] serving face. One manifest
    * read pins the generation for the query. */
  def currentGen(s: SparkSession, path: String): String = {
    val m = current(s, path)
    m.dirs(path, dictOf(m).dir).head
  }

  /** Append a document batch's dictionary partial as a new generation
    * (positive merge). Ledger-replay-safe on `app_<batchId>`. */
  def append(s: SparkSession, newDocs: DataFrame, path: String,
      batchId: Long): Unit =
    mutate(s, path, s"app_$batchId", newDocs, negate = false)

  /** Delete documents (negative merge — rows reaching df 0 drop) as a
    * new generation. Takes (doc_id, text): df counts distinct docs per
    * term, so the subtraction needs each deleted doc's term set. Runs
    * BEFORE the data-plane row delete (the takedown ordering
    * contract) and assumes deleted ⊆ the indexed corpus, as every
    * negative merge does. Ledger-replay-safe on `del_<batchId>`: a
    * replay skips before its frame is evaluated. */
  def delete(s: SparkSession, deletedDocs: DataFrame, path: String,
      batchId: Long): Unit =
    mutate(s, path, s"del_$batchId", deletedDocs, negate = true)

  private def mutate(s: SparkSession, path: String, key: String,
      docs: DataFrame, negate: Boolean): Unit = {
    val m = current(s, path)
    if (m.has(key)) return
    val dict = dictOf(m)
    val cur = m.dirs(path, dict.dir).head
    Suggest.mergedDict(s, cur, Suggest.dictionary(docs), dict, negate)
      .foreach { merged =>
        val g = Epoch.genDir(s, path, m.next)
        merged.write.mode("overwrite").parquet(s"$g/${dict.dir}")
        Epoch.commit(s, path, Epoch.Manifest(m.next,
          Map(dict.dir -> Seq(s"g${m.next}")), m.applied :+ key))
      }
  }

  /** Snapshot-isolated suggest serving: the full dictionary with the
    * mod-6 residue's documents deleted as generation 1 — the state and
    * oracle of `suggest_delete`, under the same builder. */
  val suggestEpoch = Suggest.suggestDeleteQ.copy(name = "suggest_epoch")

  def all: Seq[graft.GQuery] = Seq(suggestEpoch)
}
