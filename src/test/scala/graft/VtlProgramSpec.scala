package graft

import graft.functions.VtlProgram
import graft.functions.VtlProgram._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Statement-level VTL program compiler (statement.rs:13-80 semantics):
  * assignment chaining, if/else merge with one-branch assignment and del,
  * for-k,v over sorted map entries with continue AND break, return, and the
  * single-Project compilation guarantee.
  */
class VtlProgramSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def base = Seq(
    (1L, 10.0, "alpha"),
    (2L, 80.0, "beta"),
    (3L, 200.0, "gamma")).toDF("id", "v", "name")

  test("assignment chain: later statements see earlier assignments") {
    val out = VtlProgram.compile(base, Seq(
      Assign("a", env => ref(env, "v") * 2),
      Assign("b", env => ref(env, "a") + 1), // reads the NEW a
      Assign("a", env => ref(env, "a") + 100))) // reassignment, b keeps old
    val got = out.select("id", "a", "b").as[(Long, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 120.0, 21.0), (2L, 260.0, 161.0), (3L, 500.0, 401.0)))
  }

  test("if/else-if merge; field assigned in one branch only reads null in the other") {
    val out = VtlProgram.compile(base, Seq(
      If(env => ref(env, "v") >= 150.0,
        Seq(Assign("sev", _ => lit("high")), Assign("only_then", _ => lit(1))),
        Seq(If(env => ref(env, "v") >= 50.0,
          Seq(Assign("sev", _ => lit("mid"))),
          Seq(Assign("sev", _ => lit("low"))))))))
    val got = out.select("id", "sev", "only_then")
      .as[(Long, String, Option[Int])].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "low", None), (2L, "mid", None), (3L, "high", Some(1))))
  }

  test("del removes a field; del inside a branch nulls it (documented divergence)") {
    val top = VtlProgram.compile(base, Seq(Del("name")))
    assert(top.columns.toSeq == Seq("id", "v"))
    val branched = VtlProgram.compile(base, Seq(
      If(env => ref(env, "v") > 50.0, Seq(Del("name")), Nil)))
    assert(branched.columns.toSeq == Seq("id", "v", "name"))
    val got = branched.select("id", "name").as[(Long, Option[String])]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, Some("alpha")), (2L, None), (3L, None)))
  }

  test("for k,v: sorted-key iteration with continue filter and entry rewrite") {
    val df = Seq(1).toDF("id").withColumn("m",
      map(lit("b"), lit("x"), lit("tmp_z"), lit("drop"), lit("a"), lit("y")))
    val out = VtlProgram.compile(df, Seq(
      ForKV("m", env => ref(env, "m"), ForBody(
        continueWhen = Some((k, _) => k.startsWith("tmp_")),
        yieldKey = (k, _) => concat(lit("t_"), k),
        yieldValue = (_, v) => upper(v))),
      Assign("r", env => array_join(transform(
        array_sort(map_entries(ref(env, "m"))),
        e => concat(e("key"), lit("="), e("value"))), ","))))
    assert(out.select("r").as[String].head() == "t_a=Y,t_b=X")
  }

  test("for k,v: a NULL continue-predicate keeps the entry (vtl falsy rule)") {
    // value "n" maps the predicate to NULL via a null-propagating compare;
    // vtl's `if cond { continue }` does not fire on null/falsy, so the
    // entry must survive (a bare !pred would be NULL and filter() drops it)
    val df = Seq(1).toDF("id").withColumn("m",
      map(lit("a"), lit("1"), lit("b"), lit(null).cast("string"), lit("c"), lit("9")))
    val out = VtlProgram.compile(df, Seq(
      ForKV("m", env => ref(env, "m"), ForBody(
        continueWhen = Some((_, v) => v > lit("5")), // NULL for the null value
        yieldKey = (k, _) => k,
        yieldValue = (_, v) => coalesce(v, lit("-")))),
      Assign("r", env => array_join(transform(
        array_sort(map_entries(ref(env, "m"))),
        e => concat(e("key"), lit("="), e("value"))), ","))))
    assert(out.select("r").as[String].head() == "a=1,b=-")
  }

  test("for k,v: break ends iteration BEFORE the firing entry, in sorted-key order") {
    val df = Seq(1).toDF("id").withColumn("m",
      map(lit("c"), lit("3"), lit("a"), lit("1"), lit("stop"), lit("9"), lit("b"), lit("2")))
    // sorted keys: a, b, c, stop — break at "c" keeps a, b only
    val out = VtlProgram.compile(df, Seq(
      ForKV("kept", env => ref(env, "m"), ForBody(
        breakWhen = Some((k, _) => k >= "c"))),
      Assign("r", env => array_join(transform(
        array_sort(map_entries(ref(env, "kept"))),
        e => concat(e("key"), lit("="), e("value"))), ","))))
    assert(out.select("r").as[String].head() == "a=1,b=2")
    // break that never fires keeps everything
    val all = VtlProgram.compile(df, Seq(
      ForKV("kept", env => ref(env, "m"), ForBody(
        breakWhen = Some((k, _) => k === "zz"))),
      Assign("n", env => size(map_entries(ref(env, "kept"))))))
    assert(all.select("n").as[Int].head() == 4)
  }

  test("static (literal-map) ForKV lowering agrees with the dynamic lowering") {
    // the SAME loop over the SAME entries, once as a map literal assigned in
    // the program (compile-time CreateMap -> static lowering) and once
    // wrapped in map_concat (not a CreateMap -> dynamic lowering). Break,
    // continue, a NULL predicate and a null value all in play; outputs must
    // agree row-for-row.
    val df = Seq((1, "B", 60.0), (2, "x", 10.0), (3, null, 200.0))
      .toDF("id", "s", "v")
    def mapOf(env: Env) = map(
      lit("c"), ref(env, "s"),
      lit("tmp_k"), lit("drop"),
      lit("a"), ref(env, "v").cast("string"),
      lit("stop"), lit("z"),
      lit("b"), upper(ref(env, "s")))
    val body = ForBody(
      continueWhen = Some((k, _) => k.startsWith("tmp_")),
      breakWhen = Some((_, v) => v > "y"), // NULL for null values
      yieldKey = (k, v) => concat(k, lit(":"), coalesce(v, lit("-"))),
      yieldValue = (_, v) => coalesce(upper(v), lit("NULL")))
    def render(env: Env) = array_join(transform(
      array_sort(map_entries(ref(env, "m"))),
      e => concat(e("key"), lit("="), e("value"))), ",")
    val stat = VtlProgram.compile(df, Seq(
      Assign("m", mapOf), ForKV("m", env => ref(env, "m"), body),
      Assign("r", render), Return(Seq("id", "r"))))
    val dyn = VtlProgram.compile(df, Seq(
      Assign("m", env => map_concat(mapOf(env), map())),
      ForKV("m", env => ref(env, "m"), body),
      Assign("r", render), Return(Seq("id", "r"))))
    val a = stat.orderBy("id").as[(Int, String)].collect().toSeq
    val b = dyn.orderBy("id").as[(Int, String)].collect().toSeq
    assert(a == b, s"static $a vs dynamic $b")
    // and the q80-shaped no-break loop
    val body2 = ForBody(
      continueWhen = Some((k, _) => k.startsWith("tmp_")),
      yieldKey = (k, _) => concat(lit("t_"), k),
      yieldValue = (_, v) => coalesce(upper(v), lit("-")))
    val s2 = VtlProgram.compile(df, Seq(
      Assign("m", mapOf), ForKV("m", env => ref(env, "m"), body2),
      Assign("r", render), Return(Seq("id", "r"))))
    val d2 = VtlProgram.compile(df, Seq(
      Assign("m", env => map_concat(mapOf(env), map())),
      ForKV("m", env => ref(env, "m"), body2),
      Assign("r", render), Return(Seq("id", "r"))))
    assert(s2.orderBy("id").as[(Int, String)].collect().toSeq ==
      d2.orderBy("id").as[(Int, String)].collect().toSeq)
    // a yield that THROWS on a cut entry (ANSI cast of a non-numeric value)
    // must not run in either lowering — the dynamic form filters before
    // transforming; the static form's when() branches are lazy
    val throwBody = ForBody(
      continueWhen = Some((k, _) => k.startsWith("tmp_")),
      yieldValue = (_, v) => (v.cast("int") * 2).cast("string"))
    val mapNum = (env: Env) => map(
      lit("a"), lit("7"), lit("tmp_bad"), lit("not-a-number"))
    val s3 = VtlProgram.compile(df, Seq(
      Assign("m", mapNum), ForKV("m", env => ref(env, "m"), throwBody),
      Assign("r", render), Return(Seq("id", "r"))))
    val d3 = VtlProgram.compile(df, Seq(
      Assign("m", env => map_concat(mapNum(env), map())),
      ForKV("m", env => ref(env, "m"), throwBody),
      Assign("r", render), Return(Seq("id", "r"))))
    assert(s3.orderBy("id").as[(Int, String)].collect().toSeq ==
      d3.orderBy("id").as[(Int, String)].collect().toSeq)
  }

  test("return selects fields; mid-block return rejected; empty program rejected") {
    val out = VtlProgram.compile(base, Seq(
      Assign("dbl", env => ref(env, "v") * 2),
      Return(Seq("id", "dbl"))))
    assert(out.columns.toSeq == Seq("id", "dbl"))
    intercept[IllegalArgumentException] {
      VtlProgram.compile(base, Seq(Return(Seq("id")), Del("name")))
    }
    intercept[IllegalArgumentException] {
      VtlProgram.compile(base, Seq(
        If(_ => lit(true), Seq(Return(Seq("id"))), Nil))).collect()
    }
    intercept[IllegalArgumentException] { VtlProgram.compile(base, Nil) }
  }

  test("a multi-statement program compiles to ONE Project over the relation") {
    // Range source, not a local relation (ConvertToLocalRelation would fold
    // a literal frame away entirely and hide the Project count)
    val src = spark.range(3).select(col("id"),
      (col("id") * 10.0).as("v"), concat(lit("n"), col("id")).as("name"))
    val out = VtlProgram.compile(src, Seq(
      Assign("a", env => ref(env, "v") * 2),
      If(env => ref(env, "a") > 100.0,
        Seq(Assign("sev", _ => lit("big"))),
        Seq(Assign("sev", _ => lit("small")))),
      Del("name"),
      Return(Seq("id", "sev"))))
    val projects = out.queryExecution.optimizedPlan.collect { case p: Project => p }
    assert(projects.size == 1, out.queryExecution.optimizedPlan.toString)
  }

  test("q80 program agrees with a direct single-select replay") {
    val df = Seq((1L, 10.0, "e", """{"k": 4}""", 7L),
      (2L, 90.0, "f", """{"k": 5}""", 8L),
      (3L, 400.0, "g", """{"k": 6}""", 9L))
      .toDF("event_id", "value", "event_type", "props", "user_id")
    // replicate vtlProgram's statements on this tiny frame via plain SQL
    val expect = df.selectExpr("event_id",
      "CASE WHEN value >= 150 THEN 'high' WHEN value >= 50 THEN 'mid' ELSE 'low' END AS sev",
      "CASE WHEN value >= 150 THEN cast(get_json_object(props,'$.k') AS int) % 2 = 0 ELSE false END AS alert",
      "concat('t_type=', upper(event_type), ',t_uid=', cast(user_id AS string)) AS tags_str")
      .orderBy("event_id").collect().toSeq
    // run the same program text inline (vtlProgram reads parquet; rebuild here)
    import graft.functions.VtlProgram._
    val program = Seq[Stmt](
      If(env => ref(env, "value") >= 150.0,
        Seq(Assign("sev", _ => lit("high"))),
        Seq(If(env => ref(env, "value") >= 50.0,
          Seq(Assign("sev", _ => lit("mid"))),
          Seq(Assign("sev", _ => lit("low")))))),
      Assign("tags", env => map(
        lit("type"), ref(env, "event_type"),
        lit("tmp_debug"), ref(env, "props"),
        lit("uid"), ref(env, "user_id").cast("string"))),
      ForKV("tags", env => ref(env, "tags"), ForBody(
        continueWhen = Some((k, _) => k.startsWith("tmp_")),
        yieldKey = (k, _) => concat(lit("t_"), k),
        yieldValue = (_, v) => upper(v))),
      Assign("k_val", env => get_json_object(ref(env, "props"), "$.k").cast("int")),
      If(env => ref(env, "sev") === "high",
        Seq(Assign("alert", env => ref(env, "k_val") % 2 === 0)),
        Seq(Assign("alert", _ => lit(false)))),
      Assign("tags_str", env => array_join(transform(
        array_sort(map_entries(ref(env, "tags"))),
        e => concat(e("key"), lit("="), e("value"))), ",")),
      Return(Seq("event_id", "sev", "alert", "tags_str")))
    val got = VtlProgram.compile(df, program).orderBy("event_id").collect().toSeq
    assert(got == expect)
  }
}
