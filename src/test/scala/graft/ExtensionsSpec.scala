package graft

/** GraftExtensions must make the native functions resolvable in a
  * session built with `withExtensions` — no per-query registration.
  * A sibling session is created on the shared SparkContext, so the other
  * suites' shared session is untouched.
  */
class ExtensionsSpec extends SparkSpec {

  test("withExtensions(GraftExtensions) resolves all native functions") {
    val s2 = siblingSession(new GraftExtensions)
    val r = s2.sql(
      """SELECT round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 4) AS c,
        |  size(minhash_sig(array('a', 'b'), 8)) AS m,
        |  round(jaccard_sim(array('a', 'b'), array('b', 'c')), 4) AS j,
        |  simhash_sig(array('a')) >= 0 AS s,
        |  rolling_stats('a b c d e f g h i j k l m n o p q r').n_windows AS rw,
        |  size(word_shingles('a b c d', 2)) AS ws""".stripMargin).head
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(1) == 8)
    assert(math.abs(r.getDouble(2) - 0.3333) < 1e-9)
    assert(r.getBoolean(3))
    assert(r.getInt(4) > 1)
    assert(r.getInt(5) == 3)
  }
}
