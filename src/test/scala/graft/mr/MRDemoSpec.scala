package graft.mr

import org.scalatest.funsuite.AnyFunSuite

/** MRDemo's argument checks. Only the failure paths are exercised:
  * each must throw before a session starts, while the success path
  * ends in spark.stop(), which would stop the suite's shared session. */
class MRDemoSpec extends AnyFunSuite {
  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](MRDemo.main(args.toArray)).getMessage

  test("too few args: usage message") {
    assert(rejects("wc", "in/*").contains("usage: MRDemo <"))
  }

  test("unknown app: names the app and prints usage") {
    val msg = rejects("nosuch", "in/*", "out")
    assert(msg.contains("unknown app 'nosuch'"))
    assert(msg.contains("usage: MRDemo <"))
  }

  test("nReduce must be a positive integer") {
    for (bad <- Seq("ten", "0", "-3", "")) {
      val msg = rejects("wc", "in/*", "out", bad)
      assert(msg.contains(s"got '$bad'"))
      assert(msg.contains("usage: MRDemo <"))
    }
  }

  test("inputGlob must be POSIX paths: a remote scheme is named") {
    for ((scheme, glob) <- Seq("hdfs" -> "hdfs://nn/in/*", "s3a" -> "in/*,s3a://b/in"))
      assert(rejects("wc", glob, "out").contains(s"scheme '$scheme'"))
  }

  test("outDir must be a POSIX path: a remote scheme is named") {
    for ((scheme, outDir) <- Seq("hdfs" -> "hdfs://nn/out", "s3a" -> "s3a://b/out"))
      assert(rejects("wc", "in/*", outDir).contains(s"scheme '$scheme'"))
  }
}
