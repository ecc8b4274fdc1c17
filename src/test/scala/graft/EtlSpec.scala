package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.wikidata.{EntitySchema, Etl, GenWd, TypedValues, Wd}

/** `Etl.loadFrame` reads the dump once and carries the en label through
  * the claims explode. These specs keep the two-scan formulation it
  * replaced — flatten, plus a label-only read of the same dump left
  * joined back on `id` — as the reference, and require the same rows
  * (sorted multiset) on the fixture and on a GenWd dump. */
class EtlSpec extends AnyFunSuite {
  lazy val spark = Spec.spark

  /** The former load: typed claims left joined to a second, label-only
    * read of the same dump. */
  private def joinReference(path: String, cols: Seq[String]): DataFrame = {
    val ents = Wd.readDump(spark, path, EntitySchema.entity)
      .filter(col("redirect").isNull)
    val enLabels = ents.select(col("id"),
      col("labels").getItem("en").getField("value").as("en_label"))
    TypedValues.typed(Wd.claimsFlatten(ents))
      .join(enLabels, Seq("id"), "left")
      .select(cols.map(col): _*)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Load `path` through the dump override (None = the staged
    * fixture). The path binds when the frame is built. */
  private def load(path: Option[String]): DataFrame = {
    path.foreach(spark.conf.set("spark.graft.wd.bz2", _))
    try Etl.loadFrame(spark)
    finally spark.conf.unset("spark.graft.wd.bz2")
  }

  test("single-scan loadFrame equals the label-join reference on the fixture") {
    val got = load(None)
    // the staged bz2 carries the same bytes as the plain fixture
    val ref = joinReference(Wd.ensureFixture(spark), got.columns.toSeq)
    assert(sortedRows(got) === sortedRows(ref))
    assert(got.count() === 17)
    // Q6 has no labels at all: its statements keep a NULL en_label
    val q6 = got.filter(col("id") === "Q6").collect()
    assert(q6.nonEmpty && q6.forall(_.isNullAt(1)))
  }

  test("single-scan loadFrame equals the label-join reference on a GenWd dump " +
      "with label-less entities, redirect stubs and claim-less entities") {
    val n = 400L
    // GenWd's zipf dump: every 97th entity is label-less, every 23rd a
    // redirect stub. Appended: entities with labels but no claims
    // (absent and empty map), and one whose labels lack `en`.
    val extra = Seq(
      """{"type":"item","id":"Q900001","labels":{"en":{"language":"en","value":"no claims"}},"lastrevid":1}""",
      """{"type":"item","id":"Q900002","labels":{"en":{"language":"en","value":"empty claims"}},"claims":{},"lastrevid":1}""",
      """{"type":"item","id":"Q900003","labels":{"de":{"language":"de","value":"nur deutsch"}},"claims":{"P31":[{"mainsnak":{"snaktype":"value","property":"P31","datavalue":{"value":"x","type":"string"}},"type":"statement","id":"Q900003$a","rank":"normal"}]},"lastrevid":1}""")
    val lines = (0L until n).map(i => GenWd.entityJson(i, zipf = true)) ++ extra
    val path = Stage.p(spark, "graft_etlspec_genwd.ndjson.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(Stage.create(spark, path))
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()

    val got = load(Some(path))
    val ref = joinReference(path, got.columns.toSeq)
    assert(sortedRows(got) === sortedRows(ref))
    val ids = got.select("id").distinct().collect().map(_.getString(0)).toSet
    // stubs and claim-less entities contribute no statement rows
    assert(!ids("Q8") && !ids("Q900001") && !ids("Q900002"))
    // Q1 (i = 0) is label-less; Q900003 has labels but no en label
    Seq("Q1", "Q900003").foreach { q =>
      val rs = got.filter(col("id") === q).collect()
      assert(rs.nonEmpty && rs.forall(_.isNullAt(1)), q)
    }
    assert(got.filter(col("en_label").isNotNull).count() > 0)
  }
}
