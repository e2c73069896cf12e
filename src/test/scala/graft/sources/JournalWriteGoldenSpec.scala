package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import java.security.MessageDigest
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Golden fragments of every journal write entry point. One fixed
  * input goes through `append` (postfix routing + size rolling),
  * `batchSink`, a 2-route `batchSinkRouted`, `appendFramed`, and the
  * DSv2 batch and streaming writes; each journal's fragment NAMES
  * (offsets + content SHA-1 + codec, under their postfix directory) and
  * the SHA-1 of each stored FILE are pinned verbatim. Any change to
  * framing, partition order, offset planning, rolling, or codec
  * buffering shows up here as a different name or stored digest.
  *
  * Inputs come from `spark.range` with an explicit slice count, so
  * row-to-partition assignment is fixed whatever the master's cores.
  */
class JournalWriteGoldenSpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-golden").toString

  private def sha1Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-1").digest(b).map("%02x".format(_)).mkString

  /** (path relative to the journal dir, SHA-1 of the stored file) per
    * fragment, in offset order; each fragment's decoded bytes must also
    * hash to the SHA-1 in its name.
    */
  private def snapshot(root: String, journal: String): Seq[(String, String)] = {
    val dir = new HPath(root, journal).toUri.getPath
    Journal.listFragments(root, journal).map { f =>
      val stored = Files.readAllBytes(java.nio.file.Paths.get(new HPath(f.path).toUri.getPath))
      val decoded = Journal.wrapInput(f.codec,
        new java.io.ByteArrayInputStream(stored)).readAllBytes()
      assert(sha1Hex(decoded) == f.sha1, s"${f.name}: decoded bytes do not match its name")
      assert(decoded.length == f.end - f.begin, s"${f.name}: length does not match its span")
      (new HPath(f.path).toUri.getPath.stripPrefix(dir).stripPrefix("/"), sha1Hex(stored))
    }
  }

  private def assertGolden(root: String, journal: String,
      want: Seq[(String, String)]): Unit = {
    val got = snapshot(root, journal)
    assert(got == want, s"$journal golden drifted; got:\n" +
      got.map { case (n, s) => s"""      ("$n",\n       "$s")""" }.mkString(",\n"))
  }

  private def payloads(n: Long, slices: Int, prefix: String) =
    spark.range(0, n, 1, slices).select(
      concat(lit(prefix), col("id").cast("string")).as("payload"),
      concat(lit("d="), (col("id") % 2).cast("string")).as("day"),
      (col("id") % 3).as("route"))

  test("append with a path postfix and size rolling") {
    val root = tmpRoot()
    Journal.append(payloads(40, 2, "append-record-"), root, "g/append",
      codec = "none", postfixCol = Some("day"), maxFragmentBytes = 60)
    assertGolden(root, "g/append", Seq(
      ("d=0/0000000000000000-0000000000000040-0df11264df15269d417e8dd030dcdaf97dbce2c8.none",
       "0df11264df15269d417e8dd030dcdaf97dbce2c8"),
      ("d=0/0000000000000040-0000000000000083-00316804994f2b67f82a39855e98010ea1b18a6a.none",
       "00316804994f2b67f82a39855e98010ea1b18a6a"),
      ("d=0/0000000000000083-00000000000000a5-8e7acc741f27a6f0294afb1331e618896c9cce96.none",
       "8e7acc741f27a6f0294afb1331e618896c9cce96"),
      ("d=1/00000000000000a5-00000000000000e5-f32c68c97189161d26d4e162e51d2aa90e58c725.none",
       "f32c68c97189161d26d4e162e51d2aa90e58c725"),
      ("d=1/00000000000000e5-0000000000000128-b3eb378edbc2379df8d0c6049bf76f6340a77b15.none",
       "b3eb378edbc2379df8d0c6049bf76f6340a77b15"),
      ("d=1/0000000000000128-000000000000014a-6a65d5e16778536b09b192be91bd4a7a5a95039f.none",
       "6a65d5e16778536b09b192be91bd4a7a5a95039f"),
      ("d=0/000000000000014a-000000000000018e-507d6c088f7fffd1984b5565a9276ea7548d2cad.none",
       "507d6c088f7fffd1984b5565a9276ea7548d2cad"),
      ("d=0/000000000000018e-00000000000001d2-5e2f582648fb901c46d0017e3fc1519a2f963023.none",
       "5e2f582648fb901c46d0017e3fc1519a2f963023"),
      ("d=0/00000000000001d2-00000000000001f4-00b26802cf852b4497788079b88259651b01dbbe.none",
       "00b26802cf852b4497788079b88259651b01dbbe"),
      ("d=1/00000000000001f4-0000000000000238-4512ba345001bdbf2e5f02f8e1927e3572b5f4aa.none",
       "4512ba345001bdbf2e5f02f8e1927e3572b5f4aa"),
      ("d=1/0000000000000238-000000000000027c-6f10e661bb3701a7b01cf1bf4f3a73b6fca8ea71.none",
       "6f10e661bb3701a7b01cf1bf4f3a73b6fca8ea71"),
      ("d=1/000000000000027c-000000000000029e-e964e15c4942b69d344b16db50db2b3a11c979db.none",
       "e964e15c4942b69d344b16db50db2b3a11c979db")))
  }

  test("batchSink, two consecutive batches") {
    val root = tmpRoot()
    Journal.batchSink(root, "g/sink", "gz")(
      payloads(30, 3, "sink-a-").select("payload"), 0L)
    Journal.batchSink(root, "g/sink", "gz")(
      payloads(12, 2, "sink-b-").select("payload"), 1L)
    assertGolden(root, "g/sink", Seq(
      ("0000000000000000-000000000000005a-ed73c7077834c117612795b4fab570e7706dc29e.gz",
       "f40195d6a1f9a1e549f7dd50da6c8be26710d045"),
      ("000000000000005a-00000000000000be-c3ce594092c762fff80dac77236ba13a129a3602.gz",
       "afa39e03057e6645f5b2b0f16876ca66123cf1d7"),
      ("00000000000000be-0000000000000122-dea111791d2da46ec6ce4b332970d640b1351380.gz",
       "edff34b6416f806671b5d0c3b994993799583790"),
      ("0000000000000122-0000000000000158-036977ece5dba318d31a533ca50e5f5afddf3542.gz",
       "1793006cbe7a5f6b7755a6d8e167cce01c9980d9"),
      ("0000000000000158-0000000000000190-e7e1883325a09613b315ef2759c849450ca604ae.gz",
       "254c3dd51c62d0c19ea420bbe24fc041b58ee8f7")))
  }

  test("batchSinkRouted over two routes") {
    val root = tmpRoot()
    val df = payloads(45, 3, "routed-")
    Journal.batchSinkRouted(root, Seq(
      "g/r0" -> (col("route") === 0),
      "g/r1" -> (col("route") === 1)), df, 0L)
    assertGolden(root, "g/r0", Seq(
      ("0000000000000000-000000000000002e-9ae02ce9d3aa07c7c38c60b14f8fbcf9254962a7.gz",
       "8de7d69e05f36df7620fa3fa99357ccc2d8fb1fb"),
      ("000000000000002e-0000000000000060-8da203def6823f893a1a0495b3c44b9a8e8b28f5.gz",
       "f3c83e417e527205888289d8930be086d4cb40ea"),
      ("0000000000000060-0000000000000092-d0ba6ca110e3b37f4ad98b23cb7dd67c921f286f.gz",
       "dad243fbed9f9de9168abf73f98c7db7e49bb2e5")))
    assertGolden(root, "g/r1", Seq(
      ("0000000000000000-000000000000002f-7d44599f25e519b74a594108c1d53726748690f2.gz",
       "bfbd65e9da55ba5420617dc47c60ddf85e0d8dd1"),
      ("000000000000002f-0000000000000061-2b4e0be92c1fa47b217805cb03daee0698fd16d5.gz",
       "1d64b59c85d7fe54d3474770845b0675bd23e49b"),
      ("0000000000000061-0000000000000093-08d2e098f87f481c8c469fb1c270681d0d3222fd.gz",
       "aceae2a157a366040ef6ddf9f5ad6f28b24da437")))
  }

  test("appendFramed") {
    val root = tmpRoot()
    val df = payloads(12, 2, "framed-")
      .select(encode(col("payload"), "UTF-8").as("payload"))
    Journal.appendFramed(df, root, "g/framed", "gz")
    assertGolden(root, "g/framed", Seq(
      ("0000000000000000-0000000000000060-def8d568c5c01d8258fbedc396b30ad94924297d.gz",
       "2937b265b88c2d020c14c378a97a0a9c951bbb81"),
      ("0000000000000060-00000000000000c2-13617654094f76d13fc850e08341fd49704fe317.gz",
       "79ff284f5f60fe137788ce07a2d86b9cb8296475")))
  }

  test("DSv2 batch write with size rolling") {
    val root = tmpRoot()
    payloads(50, 4, "v2-batch-").select("payload")
      .write.format("journal")
      .option("root", root).option("journal", "g/v2b")
      .option("codec", "none").option("maxFragmentBytes", "80")
      .mode("append").save()
    assertGolden(root, "g/v2b", Seq(
      ("0000000000000000-0000000000000058-376ea885d95a5b1efbb5dce84ed998aa87b05edf.none",
       "376ea885d95a5b1efbb5dce84ed998aa87b05edf"),
      ("0000000000000058-0000000000000086-7d8811d1222f3ffc67c63c9f83cc2a35403756ba.none",
       "7d8811d1222f3ffc67c63c9f83cc2a35403756ba"),
      ("0000000000000086-00000000000000da-b3bf20c9b19f69f0de12f259ea06805d7a48dce7.none",
       "b3bf20c9b19f69f0de12f259ea06805d7a48dce7"),
      ("00000000000000da-0000000000000122-84b9f09d24ccb83357508e5930e105c2fc67cd6b.none",
       "84b9f09d24ccb83357508e5930e105c2fc67cd6b"),
      ("0000000000000122-0000000000000176-f51f1e38a2c80d167f19cc25933c52a88fe49f0f.none",
       "f51f1e38a2c80d167f19cc25933c52a88fe49f0f"),
      ("0000000000000176-00000000000001b2-fd273eb8106e93f7dc2b4b1ffc175942c62cec51.none",
       "fd273eb8106e93f7dc2b4b1ffc175942c62cec51"),
      ("00000000000001b2-0000000000000206-d30c7d4f65c2d135f2d165d32a1637bf3caa3c17.none",
       "d30c7d4f65c2d135f2d165d32a1637bf3caa3c17"),
      ("0000000000000206-000000000000024e-4edbdbef23918c134a324d9a1dfad21c6a816826.none",
       "4edbdbef23918c134a324d9a1dfad21c6a816826")))
  }

  test("DSv2 streaming write") {
    val src = tmpRoot()
    val dst = tmpRoot()
    val ckpt = tmpRoot()
    Journal.append(payloads(20, 2, "v2-stream-").select("payload"), src,
      "g/src", codec = "none")
    val q = spark.readStream.format("journal")
      .option("root", src).option("journal", "g/src").load()
      .select(col("payload"))
      .writeStream.format("journal")
      .option("root", dst).option("journal", "g/v2s").option("codec", "gz")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    assertGolden(src, "g/src", Seq(
      ("0000000000000000-0000000000000078-40a7c4dd34308984597f281074a4ef6e981fb40e.none",
       "40a7c4dd34308984597f281074a4ef6e981fb40e"),
      ("0000000000000078-00000000000000fa-bbe3f3ef0b8f55e43ee5166c315f158aa11c35c6.none",
       "bbe3f3ef0b8f55e43ee5166c315f158aa11c35c6")))
    assertGolden(dst, "g/v2s", Seq(
      ("0000000000000000-0000000000000078-40a7c4dd34308984597f281074a4ef6e981fb40e.gz",
       "16bad59b31dda85939c171b5ca0aa91766125e5f"),
      ("0000000000000078-00000000000000fa-bbe3f3ef0b8f55e43ee5166c315f158aa11c35c6.gz",
       "df782270187b76bc704967e18dfbf5567653a36b")))
  }
}
