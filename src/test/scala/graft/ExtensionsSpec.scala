package graft

import org.apache.spark.sql.functions._

/** A session configured only through [[GraftExtensions]] (the
  * `spark.sql.extensions` deployment path) resolves every native function
  * the library calls by name. `newSession()` keeps the shared session's
  * extensions but not the temp functions [[graft.core.Normalize.register]]
  * installed on it. */
class ExtensionsSpec extends SparkSuite {

  private val libraryNames = Set(
    "alias_key", "canonical_label", "html_to_text", "nt_decode_resource",
    "nt_encode_resource", "nt_escape_literal", "nt_unescape_literal",
    "plural_lexhead", "vec_dot")

  test("the function table covers every call_function name in src/main") {
    val src = new java.io.File("src/main/scala")
    assume(src.isDirectory, "sources not reachable from the working dir")
    val Call = """call_function\("([a-z_]+)"""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val used = files(src).filter(_.getName.endsWith(".scala")).flatMap { f =>
      Call.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
        f.toPath), "UTF-8")).map(_.group(1))
    }.toSet
    assert(used == libraryNames)
    assert(GraftExtensions.Functions.map(_.name).toSet == libraryNames)
  }

  test("an extensions-only session resolves every library function") {
    val s = spark.newSession()
    val row = s.range(1).select(
      (libraryNames - "vec_dot").toSeq.sorted.map(n =>
        call_function(n, lit("Ada Lovelace")).as(n)) :+
        call_function("vec_dot", array(lit(1.0), lit(2.0)),
                      array(lit(3.0), lit(4.0))).as("vec_dot"): _*)
      .head()
    assert(row.getAs[String]("alias_key") == "adalovelace")
    assert(row.getAs[Double]("vec_dot") == 11.0)
  }

  test("a second Pipeline.run on one session re-registers no function") {
    import spark.implicits._
    val world = graft.testkit.CorpusGen.default
    val seeds = world.seeds(spark)
    val pages = world.pages.toDS().toDF()
    Pipeline.run(spark, pages, seeds, SparkSuite.tempDir("graft-reg-1"))
    val (_, seen) =
      logged("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry") {
        Pipeline.run(spark, pages, seeds, SparkSuite.tempDir("graft-reg-2"))
      }
    val replaced = seen.filter(_.contains("replaced a previously registered"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }
}
