package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Unicode NFC normalization as a native expression — the first step of any
 * text-cleaning pipeline: canonically-equivalent byte sequences (decomposed
 * accents, compatibility variants typed by different tooling) must collapse
 * to one form BEFORE hashing, dedup, shingling, or tokenization, or the
 * same sentence in two encodings silently becomes two "distinct" documents
 * and every downstream exact-dedup and fingerprint misses it.
 *
 * Spark ships no normalizer built-in; this wraps `java.text.Normalizer`
 * (JDK, no dependency) in a codegen'd unary expression so it runs map-side
 * inside WholeStageCodegen in the same stage as the scan. ASCII-only
 * strings (the overwhelming majority of a web corpus) short-circuit via
 * `Normalizer.isNormalized`, which for ASCII is a byte scan with no
 * allocation.
 */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires string input, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfcImpl(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NfcNormalize$$.MODULE$$.nfcImpl($c)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object NfcNormalize {
  /** NFC-normalize a UTF8String; returns the input object unchanged when
    * already normalized (no copy on the common ASCII path). */
  def nfcImpl(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** NFC normalization of a string column. */
  def nfc(c: Column): Column = Glue.column(NfcNormalize(Glue.expression(c)))
}
