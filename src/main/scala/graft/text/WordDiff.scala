package graft.text

/** Word-level two-engine diff (reference: diagnostics.py:230-275 uses
  * difflib opcodes; we implement an LCS-based opcode walk — same output
  * shape: additions, deletions, substitutions, summary counts).
  * Used only on the diagnostics path for rows that took the heavy engine,
  * so O(n*m) on capped word counts is acceptable.
  */
object WordDiff {

  final case class Diff(
      additions: Seq[String],
      deletions: Seq[String],
      substitutions: Seq[(String, String)],
      summary: Map[String, Int]
  )

  private val MaxWords = 2000 // cap row cost; diffs beyond this are truncated

  def diff(fastText: String, heavyText: String): Diff = {
    // NO StepBudget tick here: WordDiff only runs for diagnostics, and a
    // diagnostics-gated tick could flip a near-budget heavy row back to its
    // fast output — observability must never change extraction results. The
    // MaxWords cap already bounds this kernel's work.
    val a = tokenize(fastText)
    val b = tokenize(heavyText)
    // LCS table (ints; capped input keeps this < 2000^2 * 4B = 16 MB worst case,
    // and typical diagnostic rows are far smaller)
    val n = a.length
    val m = b.length
    val lcs = Array.ofDim[Int](n + 1, m + 1)
    var i = n - 1
    while (i >= 0) {
      var j = m - 1
      while (j >= 0) {
        lcs(i)(j) =
          if (a(i) == b(j)) lcs(i + 1)(j + 1) + 1
          else math.max(lcs(i + 1)(j), lcs(i)(j + 1))
        j -= 1
      }
      i -= 1
    }
    val dels = Seq.newBuilder[String]
    val adds = Seq.newBuilder[String]
    val subs = Seq.newBuilder[(String, String)]
    var x = 0
    var y = 0
    while (x < n && y < m) {
      if (a(x) == b(y)) { x += 1; y += 1 }
      else if (lcs(x + 1)(y) >= lcs(x)(y + 1)) {
        // deletion from a; pair with a pending addition as a substitution when
        // the opposite side also advances next (difflib 'replace' analogue)
        if (lcs(x + 1)(y + 1) == lcs(x + 1)(y) && lcs(x + 1)(y + 1) == lcs(x)(y + 1)) {
          subs += ((a(x), b(y))); x += 1; y += 1
        } else { dels += a(x); x += 1 }
      } else { adds += b(y); y += 1 }
    }
    while (x < n) { dels += a(x); x += 1 }
    while (y < m) { adds += b(y); y += 1 }
    val (ad, dl, sb) = (adds.result(), dels.result(), subs.result())
    Diff(
      ad,
      dl,
      sb,
      Map("additions" -> ad.size, "deletions" -> dl.size, "substitutions" -> sb.size)
    )
  }

  private def tokenize(t: String): Array[String] = {
    val tokens = Tokens(t)
    Array.tabulate(math.min(tokens.size, MaxWords))(tokens(_))
  }
}
