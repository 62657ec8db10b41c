package graft.plans

import graft.SparkSpec

class ExtensionsSpec extends SparkSpec {

  test("injected function builders resolve and evaluate through spark.sql") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
         graft_sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS i,
         graft_simhash60(array(7L)) AS s
      """).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getLong(2) == 7L) // single token: its low bits vote positive
  }
}
