package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {

  private def runCapturing(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = new java.io.PrintStream(buf, true, "UTF-8")
    (Profile.run(args, err), buf.toString("UTF-8"))
  }

  test("unknown query names and an empty argument list exit 2 with usage") {
    val (code, msg) = runCapturing("q_dedup_minhash_lsh", "no_such_query")
    assert(code == 2)
    assert(msg.contains("usage: Profile <query ...>"), msg)
    assert(msg.contains("(unknown: no_such_query)"), msg)
    val (emptyCode, emptyMsg) = runCapturing()
    assert(emptyCode == 2)
    assert(emptyMsg.contains("usage: Profile <query ...>"), emptyMsg)
  }
}
