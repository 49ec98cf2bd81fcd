package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory and the SQL surface of the native functions:
  * GraftSession.register binds them on the shared suite session (the
  * config-time path is spark.sql.extensions=graft.GraftExtensions, same
  * builders). */
class GraftSessionSpec extends SparkSpec {

  test("the suite session is the production session, configured in one place") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.sources.fileCompressionFactor") ==
      GraftSession.FileCompressionFactor)
    assert(spark.sparkContext.getConf.getOption("spark.buffer.pageSize") ==
      Some(GraftSession.BufferPageSize))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    // split so this file does not match its own search string
    val call = "SparkSession" + ".builder()"
    val walk = Files.walk(Paths.get("src"))
    val elsewhere =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains(call))
        .toList
      finally walk.close()
    assert(elsewhere.isEmpty,
      s"sessions must be built through GraftSession.builder, not in: $elsewhere")
  }

  test("native functions are callable from SQL after registration") {
    GraftSession.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('abc') AS rh,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS ic,
        |       size(ngram_hashes('abcdef', 3)) AS ng,
        |       size(minhash_array(array(7L, 9L), 32)) AS mh,
        |       size(sign_band_buckets(array(1.0D, -2.0D, 0.5D, 3.0D), 32, 8, 4)) AS sb,
        |       size(token_ngram_hashes(array(1L, 2L, 3L, 4L, 5L), 3)) AS tg,
        |       canonical_url('HTTP://WWW.Shop.Example.com:443/a/?utm_x=1&ref=2#f') AS cu
        |""".stripMargin).head()
    assert(r.getLong(0) ==
      graft.functions.RollingHash.hashBytes("abc".getBytes("UTF-8")))
    assert(r.getDouble(1) == 11.0)
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 4) // abc, bcd, cde, def
    assert(r.getInt(4) == 32)
    assert(r.getInt(5) == 32)
    assert(r.getInt(6) == 3) // 5 tokens, 3-gram windows: positions 1..3
    assert(r.getString(7) == "https://shop.example.com/a/?ref=2",
      "scheme/case/www/port/utm/fragment all normalized, '&' repaired to '?'")
  }

  test("SQL surface rejects wrong arity and non-literal literals clearly") {
    GraftSession.register(spark)
    def failsWith(sql: String, fragment: String): Unit = {
      val e = intercept[Throwable](spark.sql(sql).collect())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains(fragment),
        s"expected error mentioning '$fragment', got: $msgs")
    }
    // extra args used to be silently dropped (simhash64('a','b') ran on 'a')
    failsWith("SELECT simhash64(array(1L), 'extra')", "1 argument")
    failsWith("SELECT token_stats(array('a'), array(array('x')), 'extra')",
      "1 to 2 argument")
    // non-foldable where a literal is required used to die inside eval()
    // with an unresolved-expression stack trace
    failsWith("SELECT minhash_array(array(id), cast(id AS INT)) FROM range(3)",
      "must be a literal")
    failsWith("SELECT token_stats(array('a'), id) FROM range(3)",
      "must be a literal")
  }
}
