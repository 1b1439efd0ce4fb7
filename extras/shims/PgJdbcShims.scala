// ==== COMPILE-ONLY SHIMS ====
// Minimal stand-ins for exactly the slice of the pgjdbc
// logical-replication API that extras/pgjdbc-adapter touches
// (org.postgresql:postgresql is unresolvable in this offline build).
// They exist so the adapter is COMPILED by CI — signatures mirror the
// public pgjdbc API (package names, method names, arity). The traits
// are plain traits, so the adapter's spec runs it on a walsender model
// that implements them (extras/test/). These classes live ONLY on the
// `adapters` subproject's classpath, never in the library artifact, so
// deploying with the real driver jar cannot conflict.
package org.postgresql

import java.util.Properties

/** Mirror of pgjdbc's PGProperty enum — the three connection
  * properties a walsender connection requires plus credentials. */
final class PGProperty private (val key: String) {
  def set(props: Properties, value: String): Unit =
    props.setProperty(key, value)
}

object PGProperty {
  val USER = new PGProperty("user")
  val PASSWORD = new PGProperty("password")
  val ASSUME_MIN_SERVER_VERSION = new PGProperty("assumeMinServerVersion")
  val REPLICATION = new PGProperty("replication")
  val PREFER_QUERY_MODE = new PGProperty("preferQueryMode")
}

/** Mirror of org.postgresql.PGConnection (the unwrap target). */
trait PGConnection {
  def getReplicationAPI: replication.PGReplicationConnection
}
