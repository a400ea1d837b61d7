package graft

import graft.core.{ManifestEntry, ReadPlan}

/** Test-side views of a [[ReadPlan]]. */
object ReadPlans {
  /** Why the plan merges relationally; None when it reads raw or merges in
    * the scan. */
  def relational(p: ReadPlan): Option[String] =
    PartialFunction.condOpt(p) { case ReadPlan.Relational(reason) => reason }

  /** The plan's files when every bucket is final and nothing is skipped in
    * the reader (no deletion vector, no file-index row selection). */
  def rawEntries(p: ReadPlan): Option[Seq[ManifestEntry]] =
    PartialFunction.condOpt(p) { case ReadPlan.Raw(es, skips) if skips.isEmpty => es }

  /** The merge runs inside the scan. */
  def inScan(p: ReadPlan): Boolean = p.isInstanceOf[ReadPlan.InScan]
}
