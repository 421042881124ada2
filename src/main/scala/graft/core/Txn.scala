package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.HexFormat

/** Transaction ids: the SHA-256 of a seed as 64 lowercase hex characters
  * (middlewares/logger.go:56-65). `HttpIngress` seeds one per request,
  * `TcpSpooler` one per connection.
  */
object Txn {
  private val hex = HexFormat.of()

  def id(seed: String): String =
    hex.formatHex(MessageDigest.getInstance("SHA-256").digest(seed.getBytes(StandardCharsets.UTF_8)))
}
