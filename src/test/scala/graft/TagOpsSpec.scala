package graft

import graft.functions.TagOps
import graft.functions.TagOps._
import graft.ref.RefExprs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven relabel op cases mirroring the reference's own tests
  * (/root/reference/src/transforms/relabel.rs:190-384), plus map-model
  * properties the reference's BTreeMap gives for free (canonical ordering).
  */
class TagOpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Every case runs through BOTH the Catalyst composition (applyOps) and the
    * fused single-pass UDF (applyOpsFused) — they must agree exactly.
    */
  private def run(input: Map[String, String], op: TagOp): Map[String, String] = {
    val df = Seq(1).toDF("x")
      .withColumn("tags",
        if (input.isEmpty) map().cast("map<string,string>")
        else map(input.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
    val catalyst = df.select(applyOps(col("tags"), Seq(op)).as("t"))
      .as[Map[String, String]].head()
    val fused = df.select(applyOpsFused(col("tags"), Seq(op)).as("t"))
      .as[Map[String, String]].head()
    assert(catalyst == fused, s"applyOps vs applyOpsFused diverge on $op: $catalyst != $fused")
    catalyst
  }

  test("add inserts only when absent (relabel.rs add/add_failed)") {
    assert(run(Map("k1" -> "v1"), AddTag("k2", lit("v2"))) == Map("k1" -> "v1", "k2" -> "v2"))
    assert(run(Map("k1" -> "v1"), AddTag("k1", lit("zzz"))) == Map("k1" -> "v1"))
  }

  test("set overwrites (relabel.rs set)") {
    assert(run(Map("k1" -> "v1"), SetTag("k1", lit("v2"))) == Map("k1" -> "v2"))
    assert(run(Map.empty[String, String], SetTag("k1", lit("v1"))) == Map("k1" -> "v1"))
  }

  test("delete (relabel.rs delete)") {
    assert(run(Map("k1" -> "v1"), DeleteTag("k1")) == Map.empty)
    assert(run(Map("k1" -> "v1"), DeleteTag("nope")) == Map("k1" -> "v1"))
  }

  test("rename moves value, only when source exists, overwriting target") {
    assert(run(Map("k1" -> "v1"), RenameTag("k1", "k2")) == Map("k2" -> "v1"))
    assert(run(Map("k1" -> "v1"), RenameTag("kx", "k2")) == Map("k1" -> "v1"))
    assert(run(Map("k1" -> "v1", "k2" -> "old"), RenameTag("k1", "k2")) == Map("k2" -> "v1"))
  }

  test("lowercase/uppercase touch only the target key (relabel.rs)") {
    assert(run(Map("k1" -> "VVV", "k2" -> "KEEP"), LowercaseTag("k1")) ==
      Map("k1" -> "vvv", "k2" -> "KEEP"))
    assert(run(Map("k1" -> "v1v"), UppercaseTag("k1")) == Map("k1" -> "V1V"))
  }

  test("hashmod matches the reference golden case (relabel.rs hashmod: baz%1000=976)") {
    assert(run(Map("c" -> "baz"), HashModTag("c", None, 1000)) == Map("c" -> "976"))
    // explicit target leaves the source in place
    assert(run(Map("c" -> "baz"), HashModTag("c", Some("t"), 1000)) ==
      Map("c" -> "baz", "t" -> "976"))
    // absent source: unchanged
    assert(run(Map("a" -> "b"), HashModTag("c", None, 1000)) == Map("a" -> "b"))
  }

  test("drop retains keys NOT matching, unanchored (relabel.rs labeldrop)") {
    assert(run(Map("a" -> "foo", "b1" -> "bar", "b2" -> "baz"), DropTags("(b.*)")) ==
      Map("a" -> "foo"))
  }

  test("keep retains only matching keys") {
    assert(run(Map("a" -> "foo", "b1" -> "bar", "b2" -> "baz"), KeepTags("(b.*)")) ==
      Map("b1" -> "bar", "b2" -> "baz"))
  }

  test("op chain composes in order; canonical form + series key are order-free") {
    val df = Seq(
      ("web", Map("env" -> "PROD", "tmp" -> "x")),
      ("web", Map("tmp" -> "y", "env" -> "PROD"))).toDF("name", "tags")
    val ops = Seq(LowercaseTag("env"), DeleteTag("tmp"), SetTag("app", lit("graft")))
    val out = df.select(
      TagOps.canonicalTags(applyOps(col("tags"), ops)).as("c"),
      TagOps.seriesKey(col("name"), applyOps(col("tags"), ops)).as("sk"))
      .as[(String, Long)].collect()
    assert(out(0)._1 == "app=graft,env=prod")
    // same logical tags in different insertion order → identical identity
    assert(out(0) == out(1))
  }

  test("fused chain equals catalyst chain on a full 9-op config with dynamic values") {
    val df = Seq(("web", "User-7", "PROD"), ("api", "admin", "dev"))
      .toDF("svc", "user", "env")
      .withColumn("tags", map(
        lit("type"), col("svc"), lit("user"), col("user"),
        lit("tmp"), lit("x"), lit("env"), col("env")))
    val ops = Seq(
      LowercaseTag("env"), RenameTag("type", "kind"),
      HashModTag("user", Some("shard"), 7), DeleteTag("tmp"),
      AddTag("region", lit("eu")), AddTag("env", col("svc")), // dynamic Add value
      SetTag("app", concat(col("svc"), lit("-app"))), // dynamic Set value
      DropTags("^u.*"), KeepTags("^(kind|shard|env|region|app)$"))
    val a = df.select(applyOps(col("tags"), ops)).as[Map[String, String]].collect().toSeq
    val b = df.select(applyOpsFused(col("tags"), ops)).as[Map[String, String]].collect().toSeq
    assert(a == b, s"$a vs $b")
    assert(a.head("app") == "web-app" && a.head("env") == "prod")
  }

  test("native canonicalTags matches the HOF chain bit-for-bit (codegen and interpreted)") {
    // adversarial shapes: empty map, null map, null VALUES (array_join skips
    // null elements), metacharacters in keys/values, unicode keys whose
    // UTF-8 byte order differs from naive UTF-16 sorts, single entry
    val df = spark.sql(
      """SELECT id, tags FROM VALUES
        |  (1, map('z','1','a','2','m','3')),
        |  (2, map('a','1,b=2')),
        |  (3, map('a=x','1','b','y\\')),
        |  (4, cast(map() as map<string,string>)),
        |  (5, cast(null as map<string,string>)),
        |  (6, map('a', cast(null as string), 'b', '2')),
        |  (7, map('k', cast(null as string))),
        |  (8, map('中','x','a','y','é','z')),
        |  (9, map('solo','v'))
        |  AS t(id, tags)""".stripMargin)
    val key = "spark.sql.codegen.factoryMode"
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, mode)
      try {
        val rows = df.select(col("id"),
          TagOps.canonicalTags(col("tags")).as("native"),
          RefExprs.canonicalTagsHof(col("tags")).as("hof")).orderBy("id").collect()
        rows.foreach { r =>
          assert((r.isNullAt(1) && r.isNullAt(2)) ||
            r.getString(1) == r.getString(2), s"[$mode] $r")
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("canonicalTags is injective: metacharacters in values cannot fake extra tags") {
    // {a:"1,b=2"} vs {a:"1", b:"2"} collided before escaping — distinct series
    // merged under one skey (comma-valued labels are reachable via PromText)
    val df = Seq(
      (1, Map("a" -> "1,b=2")),
      (2, Map("a" -> "1", "b" -> "2")),
      (3, Map("a" -> "1\\", "b" -> "2")), // trailing backslash must not eat the comma
      (4, Map("a=x" -> "1"))) // '=' in a key
      .toDF("id", "tags")
    val keys = df.select(TagOps.canonicalTags(col("tags"))).as[String].collect()
    assert(keys.distinct.length == 4, s"collision: ${keys.mkString(" | ")}")
    // metacharacter-free tags render exactly as before (sorted k=v,k=v)
    val plain = Seq(Tuple1(Map("z" -> "1", "a" -> "2"))).toDF("tags")
      .select(TagOps.canonicalTags(col("tags"))).as[String].head()
    assert(plain == "a=2,z=1")
  }
}
