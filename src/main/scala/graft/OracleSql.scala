package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** DuckDB renderings of the engine kernels the oracle SQL replays, one
  * per recipe. Each member names the engine function it mirrors, so a
  * change to that function's arithmetic has exactly one oracle twin.
  *
  * DuckDB 1.0 has no `conv()`: md5 hex digits are folded to integers
  * with a list comprehension. Comprehension and lambda variables are
  * `hx`, `vx` and `hpx`, never `i`/`d`/`p`: callers interpolate these
  * fragments into outer comprehensions and lambdas, and an inner
  * variable of the same name would silently capture the caller's (an
  * `i`-bound hash inside `for i in ...` hashes the digit position).
  */
object OracleSql {

  /** Hex digit `pos` (1-based SQL expression) of md5(`e`), as 0..15. */
  private def md5Digit(e: String, pos: String): String =
    s"strpos('0123456789abcdef', substr(md5($e), $pos, 1)) - 1"

  /** md5 hex digits `from` until `until` of `e` folded, most significant
    * first, to a BIGINT: Spark's `conv(substring(md5(e), from,
    * until - from), 16, 10)`. The `(9, 17)` slice is the second word of
    * [[Pipeline.minhashBase]].
    */
  def md5Digits(e: String, from: Int, until: Int): String =
    s"""list_reduce([${md5Digit(e, "hx")} for hx in range($from, $until)],
                    (a, b) -> a*16 + b)"""

  /** Mirror of [[Pipeline.wordHash32]]: first 8 md5 hex digits. */
  def hash32(e: String): String = md5Digits(e, 1, 9)

  /** Mirror of [[Pipeline.wordHash60]]: first 15 md5 hex digits. */
  def hash60(e: String): String = md5Digits(e, 1, 16)

  /** Mirror of [[Pipeline.dot]] over DOUBLE[] slots 1..`dims`: the same
    * index-ordered fold (DuckDB's init-less `list_reduce` equals Spark's
    * 0.0-seeded `aggregate` bit for bit), as in the native cosine_sim.
    */
  def dot(a: String, b: String, dims: Int = 64): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), vx -> $a[vx] * $b[vx]), (x, y) -> x + y)"

  /** Mirror of [[Pipeline.cosine]] and plans.VectorExpressions.cosineSim. */
  def cos(a: String, b: String, dims: Int = 64): String =
    s"${dot(a, b, dims)} / (sqrt(${dot(a, a, dims)}) * sqrt(${dot(b, b, dims)}))"

  /** Mirror of [[Similarity.pqAssign]]'s squared-L2 fold over slots
    * 1..`dims`, in index order. */
  def sqDist(a: String, b: String, dims: Int): String =
    s"""list_reduce(list_transform(range(1, ${dims + 1}),
                     vx -> ($a[vx] - $b[vx]) * ($a[vx] - $b[vx])), (x, y) -> x + y)"""

  /** Mirror of `Pipeline.rhpBucket(v, 64, 4)`: bit p is set when `v`
    * projects positively on hyperplane p, whose ±1 components are the
    * md5 parities of [[Pipeline.rhpSign]].
    */
  def rhpBucket(v: String): String = s"""
    list_reduce(list_transform(range(0, 4), hpx ->
      CASE WHEN list_reduce(list_transform(range(1, 65), vx ->
             $v[vx] * (CASE WHEN (${md5Digit("CAST(hpx AS VARCHAR) || '_' || CAST(vx AS VARCHAR)", "1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)),
           (x, y) -> x + y) > 0
      THEN (1 << CAST(hpx AS INTEGER)) ELSE 0 END),
    (x, y) -> x + y)"""

  /** Mirror of [[ops.Web.host]] (the same regex, literally). */
  def host(url: String): String =
    s"lower(regexp_extract($url, '${ops.Web.HostRegex}', 1))"

  /** Mirror of [[ops.Temporal.scd2]] as CTEs over an `el` CTE of
    * (user_id, state, ts_us, event_id): change rows via IS DISTINCT
    * FROM (null-safe, as the engine's `<=>` negation), intervals via
    * LEAD under the engine's (ts_us, event_id) order.
    */
  val scd2Ctes: String = """
        ch AS (SELECT user_id, state, ts_us, event_id FROM (
                 SELECT el.*, LAG(state) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS prev FROM el)
               WHERE prev IS DISTINCT FROM state),
        vs AS (SELECT user_id, state, ts_us AS valid_from_us,
                 LEAD(ts_us) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS valid_to_us,
                 CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS BIGINT) AS version
               FROM ch)"""

  /** Order-independent exact sum of a double expression: through
    * DECIMAL(25,6) and back (see [[Queries]] on why both engines agree).
    * [[dsumSql]] is its oracle twin.
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(25, 6))).cast(DoubleType)
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(25,6))) AS DOUBLE)"
}
