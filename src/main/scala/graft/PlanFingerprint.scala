package graft

import java.security.MessageDigest

/** Per-query physical-plan fingerprints: a stable hash + a compact
  * operator skeleton for every `SparkEntry.queries` entry, written to
  * `PLAN_FINGERPRINTS.json` and committed. A bench-time regression is
  * then attributable: diff the fingerprint file across rounds
  * (`python3 scripts/plan_diff.py <old> <new>`, or just `git diff` on
  * the committed file) — a changed hash means the PLAN changed (join
  * strategy, exchange placement, lost pushdown), an unchanged hash
  * means the slowdown is data or host noise.
  *
  * The hash covers the full normalized plan string (pushed filters,
  * read schemas, join types all included); the skeleton keeps only the
  * operator tree for human-readable diffs. Volatile tokens — expression
  * ids, plan ids, file paths, statistics — are normalized out so the
  * fingerprint is stable across JVMs and checkouts.
  *
  * Run: sbt "runMain graft.Dev fingerprint <sfDir>" (the shared session
  * posture pinned to local[4], so the hashes do not depend on the host).
  */
object PlanFingerprint {

  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("file:[^\\s,\\]\\)]+", "<path>")
      .replaceAll("/(root|tmp)[^\\s,\\]\\)]*", "<path>")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(_)")
      .replaceAll("size=\\S+", "size=_")
      .replaceAll(", \\d+ entries", ", _ entries")
      // typed-operator closures print as JVM-unique lambda identities:
      // graft.ext.Multimodal$$Lambda$1234/0x00007f…@6b3e2a
      .replaceAll("\\$\\$Lambda[^,\\s\\)]*", "\\$\\$Lambda<_>")
      .replaceAll("@[0-9a-f]{4,}", "@_")
      // higher-order-function variables (`lambda x_15#123`) number from a
      // GLOBAL counter: registering a new query shifts every later
      // query's variables, churning hashes with no plan change. After the
      // #id pass above they look like `x_15#_` — drop the counter too.
      // Anchored so a real column merely ENDING in x_<digits> (idx_1,
      // max_2) keeps its identity instead of collapsing to x_#_.
      .replaceAll("(?<![A-Za-z0-9])x_\\d+#_", "x_#_")

  /** Tree-prefix + operator name per line: `  +- *(3) HashAggregate(...)`
    * → `  +- HashAggregate`. Codegen stage ids are dropped (they shift
    * when an unrelated stage splits).
    */
  def skeleton(plan: String): Seq[String] =
    plan.linesIterator.flatMap { line =>
      "^([ :+\\-]*)(?:\\*\\(\\d+\\) )?([A-Za-z][A-Za-z0-9]*)".r
        .findFirstMatchIn(line)
        .map(m => m.group(1) + m.group(2))
    }.toSeq

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
