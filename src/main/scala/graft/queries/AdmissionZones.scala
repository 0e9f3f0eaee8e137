package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Par
import graft.operators.{AnnIndexZone, Dedup, HammingZone, SignatureZone}

/** The admission zone set under one root: the history every admission
  * gate probes, one zone per dedup modality. The exact-md5 keeper zone
  * `md5` and the MinHash signature zone `sig` are always members; the
  * SRP index zone `ann` joins when `ann` gives the embeddings and the
  * FULL expected corpus count (its plane count is fixed from that at
  * creation — d19's capacity rule, what the oracles re-derive), and the
  * Hamming media zone `ham` joins when `media` is set. The set owns the
  * members' dir names and geometry (TrainingData's shared constants, so
  * batch-built, looped and streamed sets hash alike).
  *
  * Naming a set reads and writes nothing: a query that only probes
  * staged zones takes the dir names and pays no job, meta read or
  * listing. [[create]] creates the members; [[appends]] and [[deletes]]
  * yield one op per member — the dirs are disjoint, so callers run a
  * step as one concurrent [[graft.core.Par.run]] group (§2.6);
  * [[optimize]] folds every member and checks the fold.
  */
final case class AdmissionZones(root: String,
    ann: Option[(DataFrame, Long)] = None, media: Boolean = false) {
  import AdmissionZones.Member
  import TrainingData._

  val md5: String = s"$root/md5"
  val sig: String = s"$root/sig"
  val annDir: String = s"$root/ann"
  val hamDir: String = s"$root/ham"

  /** Create the members that carry geometry (the md5 zone has none). */
  def create(spark: SparkSession): Unit = {
    SignatureZone.create(spark, sig, shingleN, minhashK, minhashBands)
    ann.foreach { case (_, total) =>
      AnnIndexZone.create(spark, annDir, expectedCount = total): Unit }
    if (media)
      HammingZone.create(spark, hamDir, audioHammingBits, audioHammingMax,
        audioHammingChunks)
  }

  private def members: Seq[Member] = Seq(
    Member("band", (ins, _) => SignatureZone.append(ins, sig),
      SignatureZone.delete(_, sig), SignatureZone.optimize(_, sig),
      SignatureZone.tombstoned(_, sig)),
    Member("md5", (ins, _) => Dedup.md5ZoneAppend(ins, col("text"), col("doc_id"), md5),
      Dedup.md5ZoneDelete(_, md5), Dedup.optimizeMd5Zone(_, md5),
      Dedup.md5ZoneTombstoned(_, md5))) ++
    // the index takes the embedding rows of the inserts' doc_ids
    ann.map { case (emb, _) => Member("ann", (ins, _) => AnnIndexZone.appendIndex(
        emb.join(ins.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        annDir),
      dels => AnnIndexZone.delete(dels.select(col("doc_id").as("vec_id")), annDir),
      AnnIndexZone.optimize(_, annDir), AnnIndexZone.tombstoned(_, annDir)) } ++
    // the media zone takes the given fingerprints, else decodes the inserts'
    Option.when(media)(Member("hamming",
      (ins, sigs) => HammingZone.append(sigs.getOrElse(audioSigs(ins)), hamDir),
      HammingZone.delete(_, hamDir), HammingZone.optimize(_, hamDir),
      HammingZone.tombstoned(_, hamDir)))

  /** Append `ins` (doc_id, text) to every member, one op each; `sigs` are
    * `ins`' media fingerprints when the caller already decoded them.
    */
  def appends(ins: DataFrame, sigs: Option[DataFrame] = None): Seq[() => Unit] =
    members.map(m => () => m.append(ins, sigs))

  /** [[create]] then [[appends]]: the batch backfill of a fresh set from
    * `hist`, one op per member.
    */
  def builds(spark: SparkSession, hist: DataFrame): Seq[() => Unit] = {
    create(spark)
    appends(hist)
  }

  /** Tombstone the `doc_id`s in `dels`, one op per member. */
  def deletes(dels: DataFrame): Seq[() => Unit] = members.map(m => () => m.delete(dels))

  /** OPTIMIZE every member concurrently ([[AdmissionZones.optimizeAll]]),
    * then require that no member still stores tombstone rows: the fold
    * applied them for good (an emptied tombstone dir may linger as a
    * scaffold a concurrent marker left; it holds no rows).
    */
  def optimize(spark: SparkSession): Unit = {
    AdmissionZones.optimizeAll(members.map(m => m.name -> (() => m.optimize(spark))): _*)
    members.foreach(m =>
      require(!m.tombstoned(spark), s"optimize left the ${m.name} tombstone list"))
  }
}

object AdmissionZones {

  /** One member's maintenance ops, owned here once: the append takes the
    * inserts and the caller's already-decoded media fingerprints, if any.
    */
  private final case class Member(name: String,
      append: (DataFrame, Option[DataFrame]) => Unit, delete: DataFrame => Unit,
      optimize: SparkSession => (Int, Int), tombstoned: SparkSession => Boolean)

  /** The post-stream OPTIMIZE of a zone group: every named zone compacts
    * concurrently ([[graft.core.Par.all]] — zones live in disjoint dirs,
    * so the group costs its slowest member), then each must have folded:
    * a zone the stream fed ends with at least one file and no more than
    * it had.
    */
  private[graft] def optimizeAll(zones: (String, () => (Int, Int))*): Unit =
    zones.map(_._1).zip(Par.all(zones.map(_._2): _*)).foreach {
      case (name, (before, after)) =>
        require(after <= before && after > 0,
          s"$name optimize produced $after of $before files")
    }
}
