package graft

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/**
 * O4: timestamped console logging with colored WARN/ERROR — the reference's
 * logger (reference: logger.py:7-32, utils.py:67-97: timestamped lines,
 * yellow warnings, red errors) on the console; no CLI logs to a file.
 *
 * Driver-side only by design: executors log through Spark's own log4j; this
 * mirrors the reference's operator-facing console surface.
 */
object Log {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val lock = new Object
  @volatile var useColor: Boolean = true

  private def emit(level: String, color: String, msg: String): Unit = {
    val line = s"${LocalDateTime.now().format(fmt)} $level $msg"
    lock.synchronized {
      if (useColor && color.nonEmpty) Console.println(s"$color$line${Console.RESET}")
      else Console.println(line)
    }
  }

  def info(msg: String): Unit = emit("INFO ", "", msg)
  def warn(msg: String): Unit = emit("WARN ", Console.YELLOW, msg)
  def error(msg: String): Unit = emit("ERROR", Console.RED, msg)
}
