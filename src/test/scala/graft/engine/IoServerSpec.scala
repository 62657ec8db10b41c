package graft.engine

import graft.SparkSpec

class IoServerSpec extends SparkSpec {

  private def freshSession() = {
    val srv = new IoServer(spark)
    (srv, srv.newSession())
  }

  test("create/drop database, use_db semantics") {
    val (_, s) = freshSession()
    s.execute("operation=create_database;db_name=db1")
    s.useDb("db1")
    intercept[IllegalArgumentException] {
      s.execute("operation=create_database;db_name=db1")
    }
    s.execute("operation=drop_database;db_name=db1")
    intercept[IllegalArgumentException] { s.useDb("db1") }
  }

  test("create_frag + multi_insert + select roundtrip") {
    val (_, s) = freshSession()
    s.execute("operation=create_frag;frag_name=f1;column_name=id_dim|measure;column_type=long|double")
    s.execute("operation=multi_insert;frag_name=f1;field=id_dim|measure;value=1|1.5|2|2.5")
    s.execute("operation=multi_insert;frag_name=f1;field=id_dim|measure;value=3|3.5;final_statement=yes")
    val r = s.execute("operation=select;field=id_dim|measure;from=f1;order=id_dim").get
    val rows = r.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 3.5))
  }

  test("random_import + create_frag_select with key-algebra WHERE (the canonical slice)") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=rin;nrows=100;array_length=10;algorithm=default")
    s.execute(
      "operation=create_frag_select;frag_name=rout;" +
        "field=id_dim|oph_reduce('oph_double','oph_double',measure,'oph_avg',10);" +
        "field_alias=id_dim|measure;from=rin;" +
        "where=oph_is_in_subset(oph_id_to_index2(id_dim,10,10),1,1,5)")
    val out = s.execute("operation=select;field=id_dim|measure;from=rout").get.collect()
    assert(out.length == 50) // ids with ((id-1)/10 mod 10)+1 in 1..5
    val m = out.head.getSeq[Double](1)
    assert(m.length == 1) // 10-block avg of a 10-array = 1 element
  }

  test("random_import past 50 400 rows does not overflow and keeps small-import values") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=big;nrows=60000;array_length=4;algorithm=default")
    s.execute("operation=random_import;frag_name=small;nrows=100;array_length=4;algorithm=default")
    def first100(frag: String) =
      s.execute(s"operation=select;field=id_dim|measure;from=$frag;order=id_dim;limit=100")
        .get.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val small = first100("small")
    assert(small.length == 100)
    assert(first100("big") == small)
    // the unreduced hash in plain long arithmetic (no overflow at row 1)
    def unreduced(row: Long, j: Long): Double =
      Math.floorMod((row * 2654435761L + j * 40503L + 12345L) * 69069L + 1234567L,
        2147483647L).toDouble / 2147483647.0 * 1000.0
    assert(small.head._2 == (1L to 4L).map(unreduced(1L, _)))
  }

  test("random_import temperatures algorithm is deterministic") {
    val (_, s1) = freshSession()
    val (_, s2) = freshSession()
    s1.execute("operation=random_import;frag_name=t;nrows=5;array_length=8;algorithm=temperatures")
    s2.execute("operation=random_import;frag_name=t;nrows=5;array_length=8;algorithm=temperatures")
    val a = s1.execute("operation=select;field=id_dim|measure;from=t;order=id_dim").get.collect()
    val b = s2.execute("operation=select;field=id_dim|measure;from=t;order=id_dim").get.collect()
    assert(a.map(_.getSeq[Double](1)).toSeq == b.map(_.getSeq[Double](1)).toSeq)
  }

  test("multi-FROM aligned join requires WHERE and zips on id_dim") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=ja;nrows=20;array_length=4")
    s.execute("operation=random_import;frag_name=jb;nrows=20;array_length=4")
    intercept[IllegalArgumentException] {
      s.execute("operation=create_frag_select;frag_name=jc;field=id_dim;from=ja|jb")
    }
    s.execute(
      "operation=create_frag_select;frag_name=jc;" +
        "field=id_dim|oph_sum_array(t1.measure,t2.measure);" +
        "field_alias=id_dim|measure;from=ja|jb;where=id_dim=id_dim")
    val out = s.execute("operation=select;field=id_dim|measure;from=jc").get
    assert(out.count() == 20)
  }

  test("GROUP BY single expression with aggregate primitive + first-row rule") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=g;nrows=40;array_length=4")
    s.execute(
      "operation=create_frag_select;frag_name=gout;" +
        "field=oph_id(id_dim,10)|oph_aggregate_operator('oph_double',measure,'oph_sum');" +
        "field_alias=id_dim|measure;from=g;group=oph_id(id_dim,10)")
    val out = s.execute("operation=select;field=id_dim|measure;from=gout;order=id_dim").get.collect()
    assert(out.length == 4)
    assert(out.head.getSeq[Double](1).length == 4)
  }

  test("oph_subset procedure re-keys sequentially; oph_size reports sizes") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=p;nrows=30;array_length=2")
    s.execute("operation=function;function_name=oph_subset;" +
      "function_args=p|1|id_dim:measure|pout|oph_is_in_subset(id_dim,1,3,30)")
    val out = s.execute("operation=select;field=id_dim|measure;from=pout;order=id_dim").get.collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(0)).toSeq == (1L to 10L))
    val size = s.execute("operation=function;function_name=oph_size;function_args=pout").get
    assert(size.head().getLong(0) == 10L)
  }

  test("oph_export returns the full fragment ordered by id_dim") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=e;nrows=15;array_length=2")
    val out = s.execute("operation=function;function_name=oph_export;function_args=e").get.collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 15L))
  }

  test("select with limit/offset and prepared-statement binds") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=l;nrows=50;array_length=2")
    val r = s.execute("operation=select;field=id_dim;from=l;where=id_dim=?1;",
      Seq(7L)).get
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(7L))
    val lim = s.execute("operation=select;field=id_dim;from=l;order=id_dim;limit=5|10").get
    assert(lim.collect().map(_.getLong(0)).toSeq == (6L to 15L))
  }

  test("maxResultRows guards SELECT result size (the memory_check analogue)") {
    val srv = new IoServer(spark, maxResultRows = 5)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=big;nrows=20;array_length=1")
    intercept[IllegalArgumentException] {
      ses.execute("operation=select;field=id_dim;from=big")
    }
    // bounded selects still pass
    assert(ses.execute("operation=select;field=id_dim;from=big;order=id_dim;limit=3")
      .get.count() == 3)
  }

  test("field=* selects all fragment columns") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=star;nrows=4;array_length=2")
    val r = s.execute("operation=select;field=*;from=star;order=id_dim").get
    assert(r.columns.toSeq == Seq("id_dim", "measure"))
    assert(r.count() == 4)
  }

  test("drop_frag removes the fragment") {
    val (_, s) = freshSession()
    s.execute("operation=random_import;frag_name=d;nrows=5;array_length=2")
    s.execute("operation=drop_frag;frag_name=d")
    intercept[IllegalArgumentException] {
      s.execute("operation=select;field=id_dim;from=d")
    }
  }
}
