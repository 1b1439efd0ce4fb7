package graft.catalog

/** Tiny diagnostic main: report whether HUP-triggered catalog refresh
  * can actually fire in THIS JVM (see [[PkCatalog.onSigHup]]'s
  * deliverability self-test). Operators run it under their supervisor
  * to know up front whether a deployment can refresh its catalog
  * without a restart;
  * CdcSpec runs it under an ignored SIGHUP disposition
  * (`sh -c 'trap "" HUP; exec java …'` — the nohup case) to pin the
  * wired=false path hermetically. No Spark session needed.
  */
object HupProbe {
  def main(args: Array[String]): Unit = {
    var fired = 0
    val wired = PkCatalog.onSigHup(() => fired += 1)
    // one parseable line; fired>=1 iff the self-test delivered
    println(s"wired=$wired fired=$fired")
  }
}
