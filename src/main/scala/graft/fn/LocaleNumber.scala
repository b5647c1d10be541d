package graft.fn

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Brazilian/mixed-locale number normalization (reference
  * `converter_para_numero`, /root/reference/main.py:531-582) as a pure
  * Catalyst expression chain — codegen-able, no UDF (SURVEY.md §2.11).
  *
  * Semantics replicated exactly, including the intentionally lossy branch:
  *   - null / invalid markers ('-','--','---','ND','N/D','nan') → ''   (main.py:538)
  *   - strip every char outside [0-9.,]                                 (main.py:543)
  *   - '1.234,56' (dot thousands + comma decimal) → '1234.56'           (main.py:550-556)
  *   - '1234,56'  (comma decimal)                 → '1234.56'           (main.py:558-562)
  *   - '1.234.56' (multiple dots) → '123456' — digits concatenated,
  *     lossy but reproduced on purpose                                  (main.py:565-572)
  *   - single-dot / plain digits → unchanged
  * Output is a STRING (missing = empty string, like the reference's
  * transform stage); SQL NULL appears only at "load" via [[parseToDouble]]
  * (connect_postgre.py:195-196).
  */
object LocaleNumber {

  /** String → normalized en-US numeric string ('' = missing).
    *
    * One strip regex and one `translate` serve every branch: `t` deletes
    * the dots and maps ',' to '.', which is the comma rewrite and, when
    * there is no comma, the multi-dot concat too. So `t` is the answer
    * when `stripped` holds a comma (then `t` holds a '.') or at least two
    * dots (then `t` is that many characters shorter); otherwise `stripped`
    * is. The invalid markers need no branch of their own: none holds a
    * digit, '.' or ',', so each strips to '' like null does, and '' falls
    * to the `otherwise`. The one condition reads `stripped` and `t` twice,
    * so codegen computes each once per row and the result shares them.
    */
  def parse(c: Column): Column = {
    val stripped = regexp_replace(coalesce(c.cast("string"), lit("")), "[^0-9.,]", "")
    val t = translate(stripped, ",.", ".")
    when(t.contains(".") || length(stripped) - length(t) > 1, t).otherwise(stripped)
  }

  /** Parse + load-stage cast: '' → NULL → DoubleType. */
  def parseToDouble(c: Column): Column =
    nullif(parse(c), lit("")).cast("double")
}
