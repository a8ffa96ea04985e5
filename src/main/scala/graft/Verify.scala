package graft

/** `graft.Verify <sfDir> <outDir>`: the correctness dump under its
  * long-standing name — [[Bench]]'s `verify` mode. */
object Verify {
  def main(args: Array[String]): Unit = Bench.main("verify" +: args)
}
