"""Embedding gates: brute-force, LSH, IVF, quantized and IVF-PQ ANN, kNN
joins, embedding dedup, k-means, covariance and PCA."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.functions.vectors import l2_norm, quantize_int8
from bun_csv_spark.operators.clustering import (
    embedding_covariance,
    kmeans,
    pca_project_with,
)
from bun_csv_spark.operators.dedup import embedding_planes, neardup_pairs_embedding
from bun_csv_spark.operators.similarity import (
    ann_brute_force,
    ann_ivf_topk,
    ann_lsh_topk,
    ann_pq_topk,
    ann_quantized_topk,
    knn_join_brute,
    knn_join_bucketed,
)

from gates.common import Family, Plan, _t


GATES = Family()


# Pinned IVF-PQ literals for the ann_pq gate: trained ONCE at sf0.01 via
# similarity.pq_train_codebooks (m=8, ksub=16, iters=2) and
# similarity.refined_centroids (4 cells, 1 Lloyd pass) — both fully
# deterministic, so a re-train reproduces these exactly (asserted in
# tests/test_round12_ops.py). Pinning makes the DuckDB oracle restate
# pure distance arithmetic, never k-means.
_ANN_PQ_CODEBOOKS = [
    [
        [0.045163, 0.051693, -0.017145, -0.165156, 0.117993, -0.040475, -0.037632, -0.043981],
        [-0.059588, -0.052838, 0.028473, -0.035254, -0.073062, -0.070829, -0.090861, 0.019427],
        [-0.014589, 0.017959, -0.092627, 0.102761, -0.0862, 0.018114, 0.070217, 0.104115],
        [-0.117582, 0.00175, 0.038428, -0.000628, 0.054825, -0.004655, 0.130162, -0.041825],
        [-0.019937, -0.002708, 0.044453, -0.002515, -0.030365, -0.195111, 0.158514, 0.135553],
        [-0.007981, -0.140905, 0.119603, 0.032278, 0.093148, -0.108443, -0.098635, 0.129604],
        [-0.038788, 0.112689, 0.071369, -0.098733, -0.10773, 0.119855, 0.005533, -0.015107],
        [0.219392, 0.026907, 0.045803, -0.019973, -0.018763, -0.039156, 0.00754, 0.117037],
        [-0.091769, -0.19449, 0.038914, 0.025494, -0.01633, 0.138245, -0.147549, 0.003708],
        [0.096249, -0.133506, -0.020041, 0.008486, 0.000874, 0.117146, -0.013657, -0.066477],
        [0.087266, -0.003994, -0.188806, -0.001947, -0.0214, 0.038331, -0.000449, -0.091243],
        [-0.088048, 0.018283, -0.057008, 0.040623, 0.048264, 0.034509, -0.148572, -0.163555],
        [0.002621, 0.009807, 0.100708, 0.002968, 0.146993, 0.200018, -0.14577, -0.007396],
        [0.071935, 0.040438, 0.051902, 0.151352, 0.059319, -0.008038, -0.052857, -0.016027],
        [-0.005931, -0.035537, -0.048583, -0.083841, 0.093932, 0.027132, -0.081071, 0.134566],
        [-0.074849, 0.045565, 0.018363, 0.027941, -0.154426, -0.202306, -0.052982, -0.099566],
    ],
    [
        [0.159174, 0.016023, -0.018135, 0.027226, -0.144035, -0.035348, -0.018012, -0.039699],
        [-0.080465, 0.097243, -0.103576, 0.110692, 0.094968, -0.085683, 0.069614, -0.043844],
        [-0.096486, -0.142131, 0.012893, 0.021726, -0.085308, 0.076833, 0.026971, 0.108589],
        [-0.091162, 0.019311, -0.064848, 0.07181, 0.0598, 0.226188, 0.002426, 0.007008],
        [-0.022211, 0.148408, 0.141847, 0.00136, -0.001299, 0.00947, 0.126388, -0.077229],
        [-0.104092, 0.056581, 0.119458, 0.095291, -0.011062, -0.043141, -0.110995, -0.01544],
        [0.055613, 0.276148, 0.108941, 0.01649, -0.041711, 0.162609, -0.060319, -0.024536],
        [-0.086627, -0.111327, 0.043084, -0.030571, -0.113693, -0.035418, 0.069326, -0.14234],
        [-0.010646, 0.083854, -0.099391, 0.059565, 0.026427, 0.010372, -0.049581, 0.160429],
        [-0.063136, 0.063525, -0.039907, -0.076115, -0.143704, -0.004289, -0.119117, -0.030429],
        [0.041558, -0.072501, -0.042476, -0.080439, 0.04957, -0.126468, 0.00506, -0.015189],
        [0.040028, 0.038315, 0.09236, -0.118322, 0.093721, 0.058519, -0.094338, 0.040048],
        [0.085265, -0.079446, 0.042481, 0.032569, 0.06338, 0.053649, 0.101263, 0.093984],
        [-0.019046, -0.049919, 0.171414, -0.120922, 0.041702, -0.212304, -0.048005, 0.054231],
        [0.108785, 0.144023, -0.062737, -0.016277, 0.099098, -0.088644, 0.201485, -0.027838],
        [-0.032899, -0.158769, -0.040219, 0.025979, -0.009335, 0.078809, -0.074704, -0.149574],
    ],
    [
        [0.020152, 0.054868, -0.030259, 0.112194, -0.1521, -0.053761, 0.045582, -0.107816],
        [-0.024136, 0.01116, 0.067419, -0.15294, 0.055658, 0.170845, 0.074393, -0.086117],
        [-0.183612, 0.016776, -0.095358, -0.210844, 0.186597, 0.044497, 0.218238, -0.073167],
        [0.019165, -0.055185, -0.058031, 0.103562, 0.067296, -0.011294, -0.04262, 0.01133],
        [0.036857, 0.187713, 0.006315, -0.039389, 0.010322, 0.066266, -0.064075, 0.005672],
        [0.21364, -0.049521, -0.025173, 0.037674, -0.06337, -0.127776, 0.07022, 0.189365],
        [-0.036816, 0.160054, -0.101022, -0.076051, 0.044669, -0.132386, -0.0199, -0.039474],
        [0.068608, 0.027188, -0.118364, 0.076303, -0.031036, 0.097779, 0.085295, -0.015428],
        [0.067561, -0.040104, 0.138206, 0.031813, 0.082701, -0.046219, 0.096423, -0.034658],
        [0.002231, 0.080627, 0.06133, -0.108895, -7.4e-05, 0.02273, 0.115234, 0.235671],
        [0.012381, 0.090323, 0.082384, -0.080549, -0.148108, 0.051593, 0.015967, -0.000604],
        [0.147801, 0.003498, -0.02974, -0.105028, -0.05651, -0.106066, 0.110341, -0.071939],
        [-0.067414, -0.129424, -0.098109, -0.074061, -0.034833, 0.07488, 0.001106, -0.010086],
        [0.03844, 0.053944, 0.078227, -0.046232, 0.138396, 0.003353, -0.012852, -0.246033],
        [0.014574, -0.074672, 0.098713, 0.007734, 0.014693, -0.063645, -0.128717, 0.085714],
        [-0.164269, 0.045705, 0.040084, 0.050452, -0.030679, -0.062406, -0.004266, -0.014364],
    ],
    [
        [0.032555, 0.182784, 0.134476, 0.009743, 0.022164, 0.076943, -0.004346, 0.183094],
        [0.096414, 0.086441, -0.08791, -0.014928, -0.005973, 0.171653, -0.088402, 0.057738],
        [-0.012511, -0.064251, -0.058717, -0.058097, 0.031628, 0.105536, -0.057279, -0.118697],
        [-0.072934, -0.023083, 0.017204, -0.116403, -0.132828, -0.051052, -0.064267, 0.025659],
        [-0.005932, -0.089646, 0.157687, -0.048732, 0.086637, 0.009898, 0.114181, 0.032673],
        [0.152332, 0.06472, -0.005011, -0.058964, 0.063525, 0.07364, 0.094475, -0.111147],
        [-0.050013, -0.120467, 0.022126, 0.100977, 0.051807, -0.006545, 0.023295, -0.052052],
        [0.042875, -0.082864, -0.105796, 0.036477, -0.043575, 0.081172, 0.136989, 0.10891],
        [-0.099546, 0.15767, -0.026785, 0.064883, 0.045162, -0.296227, 0.016597, -0.072797],
        [-0.02627, -0.049602, -0.093513, 0.069501, -0.07468, -0.119671, 0.030189, -0.144782],
        [0.08728, 0.105804, -0.133454, 0.164228, -0.088224, 0.02088, -0.110751, -0.020635],
        [0.095821, 0.095403, 0.06197, 0.046098, -0.106678, -0.010978, -0.037742, 0.03565],
        [-0.058536, 0.229083, -0.070495, 0.034683, 0.005713, -0.081875, 0.092452, -0.106902],
        [0.04226, -0.004416, 0.044282, 0.022239, 0.083869, -0.11788, -0.065276, 0.066689],
        [-0.169424, 0.057267, -0.032484, -0.012767, 0.052087, 0.084848, -0.063872, 0.046164],
        [-0.047828, 0.034079, 0.000612, 0.013166, -0.125595, -0.055979, 0.160684, -0.045907],
    ],
    [
        [-0.161225, -0.167822, -0.007776, 0.069895, -0.014678, -0.013155, 0.007091, 0.04567],
        [0.003445, -0.066469, -0.051948, 0.067878, -0.062483, -0.074901, 0.063553, -0.161744],
        [0.029718, -0.018823, -0.092877, 0.115999, 0.077186, 0.080044, 0.078697, 0.037481],
        [0.182234, 0.00629, -0.05919, -0.050966, 0.016103, -0.054181, 0.030629, -0.085635],
        [-0.12072, 0.020704, 0.000729, -0.095137, -0.087541, 0.038687, -0.059715, -0.076825],
        [-0.012578, -0.037984, -0.002184, 0.119769, -0.014946, 0.082395, -0.138403, 0.007366],
        [-0.120031, -0.104255, -0.065619, 0.025945, 0.195671, 0.115973, -0.001223, 0.071403],
        [-0.049221, -0.058693, -0.04563, -0.029617, -0.044145, -0.142837, 0.052339, 0.136573],
        [-0.020069, -0.035258, 0.11974, -0.037674, 0.068428, -0.003577, 0.117817, -0.045307],
        [-0.048838, -0.017536, 0.143576, 0.09334, -0.278038, -0.071572, 0.126046, 0.043009],
        [0.159866, -0.111121, 0.062086, 0.011501, 0.07922, 0.033423, -0.000879, 0.075377],
        [0.049678, -0.081506, -0.030034, -0.072662, 0.036142, -0.089224, -0.140467, 0.045558],
        [-0.017756, 0.112808, -0.033387, -0.058803, -0.060619, 0.044396, -0.024261, 0.153251],
        [0.096602, 0.106157, 0.074175, 0.017079, -0.026523, 0.141063, 0.027943, -0.008675],
        [0.046795, 0.171599, 0.036238, 0.02457, 0.084945, -0.137463, -0.0848, -0.044704],
        [0.076088, 0.021766, 0.055662, -0.155782, -0.109716, -0.136248, 0.103875, -0.02687],
    ],
    [
        [-0.000824, 0.02298, -0.07459, 0.030158, -0.001476, 0.139994, 0.062582, -0.089074],
        [0.029836, -0.073495, 0.169243, 0.023932, 0.060351, 0.026953, -0.01903, -0.147164],
        [-0.031194, 0.021616, 0.140947, 0.025861, -0.148506, 0.058349, -0.078641, -0.053856],
        [-0.070792, -0.107026, -0.121588, 0.06026, 0.061068, 0.050287, -0.081153, -0.035201],
        [0.000624, 0.001753, -0.172587, -0.063322, 0.006796, 0.040948, -0.125527, 0.145937],
        [-0.096016, 0.092529, -0.115732, 0.031205, -0.14134, -0.051171, 0.061154, 0.003835],
        [0.132987, -0.083187, -0.017599, -0.1002, 0.023577, 0.057959, 0.071621, 0.091602],
        [-0.088208, -0.103605, 0.033909, 0.070717, -0.011394, 0.047475, 0.014107, 0.130707],
        [-0.039571, -0.084956, -0.054349, 0.018068, 0.078742, -0.105997, 0.089216, -0.073392],
        [0.127289, 0.035675, 0.092555, 0.108045, -0.125378, 0.015832, 0.053367, -0.067189],
        [-0.04042, -0.217913, -0.062856, -0.09502, -0.071568, -0.046224, -0.001162, -0.102987],
        [0.101268, 0.007234, -0.005995, -0.1192, 0.047311, -0.059734, -0.124169, -0.014646],
        [0.066615, 0.04387, -0.045768, 0.142651, 0.035283, -0.046501, -0.048098, 0.073965],
        [-0.072903, -0.029299, -0.030606, -0.160536, -0.163619, 0.035228, -0.091768, 0.031453],
        [0.000791, 0.085871, 0.089998, -0.073091, -0.033261, -0.179057, 0.074376, 0.029624],
        [-0.075826, 0.170278, 0.027134, -0.066076, 0.071276, -0.026979, 0.020049, 0.062923],
    ],
    [
        [0.043428, -0.136518, -0.021342, 0.146104, 0.071554, -0.093973, 0.056246, -0.018839],
        [-0.033879, -0.19113, 0.032392, 0.001865, 0.000762, 0.102411, 0.005148, 0.124993],
        [0.08776, -0.00449, 0.116994, -0.087882, -0.008073, -0.088383, 0.10952, 0.193123],
        [0.262816, -0.208525, 0.003365, -0.053756, 0.005514, 0.103206, -0.091905, 0.010293],
        [-0.053924, -0.030688, 0.043328, 0.047928, 0.031028, 0.124371, 0.094308, -0.021284],
        [0.0232, -0.00202, 0.126017, 0.03536, -0.021745, 0.067423, -0.134732, -0.17931],
        [0.025606, 0.006466, -0.115925, 0.102496, -0.00658, -0.02273, -0.040371, 0.137985],
        [-0.030302, -0.014929, 0.138228, 0.055226, 0.028182, -0.080503, -0.07582, 0.101245],
        [-0.145345, -0.004361, 0.008597, 0.053478, -0.129425, 0.097943, -0.07793, -0.129485],
        [0.0548, -0.05473, 0.041289, -0.127844, -0.115814, 0.027329, -0.002108, 0.032424],
        [0.077303, 0.116641, 0.071986, -0.041751, 0.116438, -0.011894, 0.008827, -0.01782],
        [0.108165, 0.070555, -0.119275, -0.123674, -0.001853, 0.055286, 0.068419, -0.015543],
        [-0.142502, 0.065165, -0.017106, -0.02458, 0.155214, -0.002678, -0.072204, -0.024003],
        [-0.136899, -0.095238, -0.091288, -0.043934, -0.044853, -0.045886, -0.024023, -0.006638],
        [-0.061295, 0.031828, 0.05412, 0.055468, -0.003928, -0.118577, 0.099903, -0.009236],
        [0.047019, 0.048797, -0.046222, -0.040536, -0.064304, -0.118802, -0.025678, -0.155739],
    ],
    [
        [-0.03784, -0.095765, -0.118162, -0.077438, -0.073108, -0.023202, 0.085988, -0.179284],
        [0.038913, -0.075468, -0.00628, 0.099357, -0.098391, 0.048393, -0.089241, -0.069139],
        [0.058743, -0.101224, -0.003425, 0.103186, 0.032882, 0.151173, 0.07216, 0.006067],
        [-0.082874, -0.061943, -0.0285, -0.10563, 0.10328, -0.055198, -0.026043, -0.081326],
        [0.09992, -0.14632, -0.024953, -0.06227, -0.024341, -0.002627, 0.088512, 0.098668],
        [-0.085347, 0.039583, 0.001187, 0.012129, -0.134985, 0.054315, -0.017482, 0.108326],
        [-0.101628, 0.073497, -0.005646, 0.017394, 0.065937, 0.024527, 0.156258, 0.003863],
        [0.019712, 0.118951, -0.186699, -0.087358, 0.059502, 0.047948, -0.060181, -0.094821],
        [-0.065036, 0.073705, 0.081782, -0.128962, -0.083681, -0.091883, 0.027408, 0.018581],
        [0.046691, 0.002166, 0.033073, -0.128386, 0.012302, 0.10283, 0.003626, -0.009243],
        [0.138735, 0.063432, 0.023642, 0.033912, 0.116973, -0.118567, -0.052916, 0.058183],
        [-0.029716, 0.107597, -0.104344, 0.016429, 0.14113, 0.026389, -0.059245, 0.184372],
        [0.016333, -0.105773, 0.148305, -0.008466, 0.125301, 0.058899, -0.131053, -0.084354],
        [-0.130458, 0.040737, 0.029273, 0.140264, 0.055548, -0.00754, -0.135649, -0.007175],
        [-0.007096, 0.011957, -0.184939, 0.097762, -0.009725, -0.097906, 0.083208, 0.004459],
        [0.06872, 0.068574, 0.108717, 0.067779, -0.087243, -0.034892, -0.048132, -0.103556],
    ],
]


_ANN_PQ_COARSE = [
    (0, [0.021933, -0.001037, 0.013345, -0.033496, 0.027499, -0.003346, -0.022352, 0.004196, 0.046226, -0.003135, 0.016345, -0.017812, -0.024263, -0.018513, -0.010161, -0.002877, 0.010921, 0.019493, 0.011042, 0.036423, -0.044163, -0.014547, 0.011965, -0.025447, -0.023597, 0.037825, 0.018171, 0.01741, 0.005276, 0.021406, 0.021127, 0.048025, -0.012726, -0.023847, 0.019151, -0.005393, -0.020975, 0.007919, -0.009024, 0.025321, 0.006062, -0.004184, -0.003176, -8.5e-05, -0.007594, 0.026398, 0.0229, 0.003842, -0.019782, 0.000392, -0.007415, 0.026475, 0.019039, -0.036693, 0.021726, -0.006831, 0.002645, 0.00746, -0.040996, -0.034477, -0.014392, 0.003549, 0.010083, -0.040663]),
    (1, [-0.025136, -0.020336, 0.015826, -0.003518, -0.009237, 0.011969, -0.050855, 0.020489, -0.019358, 0.038429, -0.014827, 0.019563, 0.040506, -0.047926, 0.017611, -0.007927, 0.014973, -0.007443, 0.013789, -0.028073, 0.01055, 0.037853, -0.00379, -0.019158, 0.022301, 0.037117, -0.014703, 0.027288, -0.000924, 0.01654, -0.009615, 0.001739, -0.016546, -0.005482, 0.008024, 0.009654, -0.027045, -0.039757, 0.004805, -0.052073, -0.010328, -0.026634, 0.032565, 0.004389, 0.001318, -0.008574, -0.016338, 0.001703, -0.060444, -0.043393, 0.009326, 0.005486, -0.001843, 0.031069, -0.003813, 0.010774, 0.010146, -0.009389, 0.01271, 0.01601, -0.03019, 0.002699, -0.031239, -0.019703]),
    (2, [0.025586, 0.000117, -0.018787, 0.021, 0.011351, 0.017209, -0.013097, 0.011097, -0.009938, -0.058347, 0.014613, -0.011928, -0.039754, 0.01617, -0.008271, 0.019563, -0.012685, 0.026526, -0.02489, -0.034083, 0.010488, 0.006921, 0.031428, -0.002224, 0.005069, -0.0358, -0.023119, 0.009753, 0.020926, 0.004468, 0.004977, -0.05434, 5.2e-05, -0.003382, -0.001287, 0.006697, 0.00535, 0.036149, 0.019075, 0.034642, 0.006627, -0.00032, 0.032194, 0.000133, -0.03894, 0.0069, 0.007654, 0.018935, 0.02168, 0.028249, 0.032083, -0.01724, 0.002909, -0.02078, 0.028306, 0.012597, 0.016665, -0.020145, 0.002245, 0.023937, 0.028779, 0.016693, 0.018939, 0.036149]),
    (3, [-0.018136, 0.001886, 0.006297, -0.001975, 0.007692, 0.005875, 0.012369, 0.001834, -0.031528, 0.025939, 0.007387, 0.027237, 0.018897, 0.057939, 0.002072, 0.014393, 0.000818, -0.018435, -0.000842, 0.028536, 0.011297, -0.018478, -0.025769, 0.015583, -0.008845, 0.013628, 0.012291, -0.012009, -0.03198, -0.042672, 0.003929, -0.020473, 0.064375, 0.007534, -0.006133, -0.005683, 0.021455, -0.015387, -0.019058, -0.019128, -0.010948, -0.018208, -0.061025, -0.00662, 0.000982, -0.012245, -0.020004, -0.001717, 0.041582, -0.031003, 0.003678, -0.022149, 0.009861, 0.016255, -0.03091, -0.031121, -0.010758, 0.012148, 0.010359, -0.039142, 0.013167, -0.003628, -0.005858, -0.029611]),
]


def _ann_lsh_sql(
    n_planes: int = 6, dim: int = 64, seed: int = 42, k: int = 10
) -> str:
    """DuckDB twin of ``ann_lsh_topk``: the SAME md5-derived integer plane
    constants (embedding_planes) as SQL literals; bucket bit i = sign of
    round(dot, 6); query = vec_id 0's embedding."""
    planes = embedding_planes(seed, 1, n_planes, dim)[0]

    def bucket_expr(v: str) -> str:
        bits = []
        for i in range(n_planes):
            arr = "[" + ",".join(str(p) for p in planes[i]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN round(list_dot_product({v}, {arr}), 6) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")::BIGINT"

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        b AS (SELECT vec_id, v, {bucket_expr('v')} AS bucket FROM e),
        qb AS (SELECT {bucket_expr('qv')} AS bucket FROM q)
        SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cosine_sim
        FROM b, q, qb WHERE b.bucket = qb.bucket
        ORDER BY cosine_sim DESC, b.vec_id
        LIMIT {k}
    """


def _dedup_embedding_sql(
    bands: int = 4, n_planes: int = 6, dim: int = 64, seed: int = 7,
    threshold: float = 0.35, max_bucket: int = 256,
) -> str:
    """Oracle for q_dedup_embedding: the SAME integer plane constants
    (embedding_planes) emitted as SQL literals, bucket bits via
    round(list_dot_product, 6) sign — bit-for-bit the Spark bucketing."""
    planes = embedding_planes(seed, bands, n_planes, dim)
    band_selects = []
    for b in range(bands):
        bits = []
        for i in range(n_planes):
            arr = "[" + ",".join(str(p) for p in planes[b][i]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN round(list_dot_product(v, {arr}), 6) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, ({' + '.join(bits)})::BIGINT AS bucket FROM e"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bands AS ({bands_sql}),
        bands_c AS (
          SELECT vec_id, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
          WHERE bsz <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT p.id_a, p.id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
        FROM pairs p
        JOIN e ea ON ea.vec_id = p.id_a
        JOIN e eb ON eb.vec_id = p.id_b
        WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
    """


def _knn_join_bucketed_sql(
    n_queries: int = 5, k: int = 5, n_planes: int = 8, dim: int = 64,
    seed: int = 42,
) -> str:
    """Oracle for q_knn_join_bucketed: the SAME integer plane constants
    (embedding_planes seed=42, band 0) as SQL literals, bucket bit i =
    sign of round(list_dot_product, 6); multi-probe = xor with each
    single-bit mask (plus mask 0 for the home bucket)."""
    planes = embedding_planes(seed, 1, n_planes, dim)[0]
    bits = []
    for i in range(n_planes):
        arr = "[" + ",".join(str(p) for p in planes[i]) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN round(list_dot_product(v, {arr}), 6) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket_expr = "(" + " + ".join(bits) + ")::BIGINT"
    masks = ", ".join(["(0)"] + [f"({1 << i})" for i in range(n_planes)])
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
        probes AS (
          SELECT q.vec_id AS query_id, q.v AS qv, xor(q.bucket, m.m) AS bucket
          FROM b q, (VALUES {masks}) AS m(m)
          WHERE q.vec_id < {n_queries}),
        cand AS (
          SELECT p.query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(c.v, p.qv), 6) AS cosine_sim
          FROM probes p JOIN b c ON c.bucket = p.bucket)
        SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
          FROM cand)
        WHERE rnk <= {k}
    """


# k-means oracle: replays the exact pinned trajectory — smallest-id
# init, round(dist, 6) argmin with id tiebreak, round(avg, 6) centroid
# updates — two (assign, update) rounds then the final assignment
_KM_ASSIGN = """
        SELECT id, v, cid, d FROM (
          SELECT p.id, p.v, c.cid,
                 round(list_distance(p.v, c.c), 6) AS d,
                 row_number() OVER (
                   PARTITION BY p.id
                   ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
          FROM pts p CROSS JOIN {cen} c) WHERE rn = 1
    """


_KM_UPDATE = """
        SELECT cid, list(m ORDER BY pos) AS c FROM (
          SELECT cid, pos, round(avg(x), 6) AS m FROM (
            SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS pos
            FROM {asg})
          GROUP BY cid, pos)
        GROUP BY cid
    """


# pca_project (value-hashed since r11): the projection Column fold
# with the components pinned to the SAME embedding_planes(11,1,2,64)
# integer literals the Spark gate bakes in, mu = 0 — DuckDB restates
# each output as a list_dot_product; eigh stays pytest-only
_pca_w = embedding_planes(11, 1, 2, 64)[0]
_pca_arrs = [
    "[" + ",".join(str(x) for x in w) + "]::DOUBLE[]" for w in _pca_w
]


@GATES.gate("ann_cosine_topk", """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
        FROM embeddings e, q
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """, Plan(shuffles=0, must=["TakeOrderedAndProject"]))
def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_brute_force(emb, list(qvec), k=10, round_digits=6)


@GATES.gate("knn_join", """
        SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine_sim,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6) DESC,
                            e.vec_id) AS rnk
          FROM embeddings e,
               (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q)
        WHERE rnk <= 5
    """)
def q_knn_join(spark, sf_dir):
    """Top-5 neighbors for each of the first 5 vectors (broadcast kNN)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_brute(emb, queries, k=5, round_digits=6)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rnk")
    )


@GATES.gate(
    "knn_join_bucketed",
    _knn_join_bucketed_sql(),
    Plan(
        # the scale-safe kNN join: bucket equi-join + per-query top-k window —
        # the whole point is NO cartesian anywhere
        shuffles=2,
        must=["Window"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
)
def q_knn_join_bucketed(spark, sf_dir):
    """Scale-safe kNN join (similarity.knn_join_bucketed): LSH buckets +
    Hamming<=1 multi-probe + equi-join — no cartesian anywhere in the
    plan. Oracle replays the identical md5-derived plane bucketing in
    DuckDB, so this gate checks the bucketed semantics bit-for-bit;
    recall vs the brute join is asserted separately in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_bucketed(emb, queries, k=5, dim=64, n_planes=8, seed=42)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rnk")
    )


@GATES.gate("embedding_norms", """
        WITH n AS (
          SELECT label,
                 sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nm
          FROM embeddings)
        SELECT label, count(*)::BIGINT AS n,
               round(avg(nm), 4) AS avg_norm,
               round(min(nm), 4) AS min_norm,
               round(max(nm), 4) AS max_norm
        FROM n GROUP BY label
    """)
def q_embedding_norms(spark, sf_dir):
    """Per-label embedding statistics (vector ops in aggregation)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


@GATES.gate(
    "dedup_embedding",
    _dedup_embedding_sql(),
    Plan(
        # capped banded pairs (cap window, pair distinct — no self-join) +
        # the pinned cosine-verify spread
        shuffles=3, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH banded buckets (portable
    md5-derived planes) -> capped banded pairs -> exact cosine verify.
    The synthetic embeddings have no true near-dups (max pairwise cosine
    ~0.51), so the gate threshold is 0.35 — it pins the ALGORITHM, bucket
    bits and all, against the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return neardup_pairs_embedding(
        emb, "vec_id", "embedding", dim=64, threshold=0.35,
        bands=4, n_planes=6, seed=7,
    )


# replays seeding + ONE Lloyd pass (rounded cosine argmax with
# larger-cid ties — the ivf_cell_expr/max-struct convention — then
# 6-dp elementwise means), then the refined Voronoi assignment + probe
@GATES.gate("ivf_ann", """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
        s0 AS (
          SELECT vec_id AS cid, list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS cv
          FROM embeddings WHERE vec_id < 16),
        asg AS (
          SELECT e.vec_id, e.embedding,
                 (max(struct_pack(
                    s := round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6),
                    c := c.cid))).c AS cell
          FROM embeddings e, s0 c
          GROUP BY e.vec_id, e.embedding),
        cents AS (
          SELECT cell AS cid, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos, round(avg(x), 6) AS m FROM (
              SELECT cell, unnest(embedding)::DOUBLE AS x,
                     unnest(generate_series(1, len(embedding))) AS pos
              FROM asg)
            GROUP BY cell, pos)
          GROUP BY cell),
        assigned AS (
          SELECT e.vec_id, e.embedding,
                 (max(struct_pack(s := list_cosine_similarity(e.embedding::DOUBLE[], c.cv),
                                  c := c.cid))).c AS cell
          FROM embeddings e, cents c
          GROUP BY e.vec_id, e.embedding),
        probes AS (
          SELECT cid AS cell FROM (
            SELECT c.cid, row_number() OVER (
              ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid DESC) AS rn
            FROM cents c, q) WHERE rn <= 2)
        SELECT a.vec_id,
               round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
        FROM assigned a, q
        WHERE a.cell IN (SELECT cell FROM probes)
        ORDER BY cosine_sim DESC, a.vec_id
        LIMIT 10
    """)
def q_ivf_ann(spark, sf_dir):
    """IVF ANN: Voronoi cells around 16 centroids — seeded from the first
    16 corpus vectors, then ONE Lloyd refinement pass (round-6 verdict
    stretch: +0.075 avg recall@10 over 20 queries at the same nprobe, and
    tighter cell balance). Query probes the 2 nearest cells, brute-force
    within. Every step is pinned (rounded argmax, rounded means), so
    DuckDB replays the whole pipeline — refinement included — as the
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").first()["embedding"]
    return ann_ivf_topk(
        emb, list(qvec), k=10, n_centroids=16, nprobe=2, refine_iters=1
    )


@GATES.gate("label_centroids", """
        WITH e AS (
          SELECT label,
                 unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings)
        SELECT label, (pos - 1)::BIGINT AS pos,
               round(avg(x), 4) + 0.0 AS m
        FROM e GROUP BY label, pos
    """)
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid (elementwise mean) — posexplode + agg.
    Emitted as flat (label, pos, m) rows: the driver's canonicalizer sorts
    the pandas frame, so array columns are unhashable — flat scalars keep
    the oracle gate exact while `label_centroids_array` (library form,
    operators/clustering.py) re-assembles the vector for callers."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    # + 0.0 normalizes IEEE negative zero: Spark's HALF_UP round gives
    # +0.0 where DuckDB's round keeps the sign (-0.000033 -> -0.0), and
    # -0.0 vs 0.0 derails any string-sorted row canonicalization (bitten
    # at sf0.1; both sides normalize so the contract is "no -0.0")
    return exploded.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        (F.round(F.avg(F.col("x").cast("double")), 4) + F.lit(0.0)).alias("m")
    )


@GATES.gate("ann_lsh", _ann_lsh_sql())
def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: md5-derived integer hyperplanes as plan literals
    (same family as dedup_embedding) — full oracle via _ann_lsh_sql; recall
    vs brute force is additionally asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_lsh_topk(emb, list(qvec), k=10, dim=64, n_planes=6)


@GATES.gate("embedding_quantize", """
        WITH e AS (
          SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings),
        b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos)
        SELECT e.vec_id, (e.pos - 1)::BIGINT AS pos,
               (CASE WHEN b.mx = b.mn THEN 0
                     ELSE floor((e.x - b.mn) * 255 / (b.mx - b.mn) + 0.5)
                END)::BIGINT AS q
        FROM e JOIN b USING (pos)
    """, Plan(
    # bounds are a 1-row combinable agg broadcast back — the only Exchange
    # is the ungrouped agg's partial-state reduce (1 tiny row per task),
    # NOT a posexplode shuffle of n·d rows
    shuffles=1, must=["BroadcastExchange"], must_not=["SortMergeJoin"],
))
def q_embedding_quantize(spark, sf_dir):
    """Corpus min-max int8 quantization of the embedding column: bounds
    via ONE combinable 2·dim-scalar aggregate (no posexplode shuffle),
    then a map-only quantize against the broadcast bounds. Flat
    (vec_id, pos, q) output — oracle-hashable."""
    return quantize_int8(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 64)


@GATES.gate("ann_quantized", """
        WITH t AS (
          SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings),
        b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM t GROUP BY pos),
        dq AS (
          SELECT t.vec_id, t.pos,
                 CASE WHEN b.mx = b.mn THEN b.mn
                      ELSE b.mn + floor((t.x - b.mn) * 255 / (b.mx - b.mn) + 0.5)
                             * (b.mx - b.mn) / 255
                 END AS dx
          FROM t JOIN b USING (pos)),
        arrs AS (SELECT vec_id, list(dx ORDER BY pos) AS dv FROM dq GROUP BY vec_id),
        qd AS (SELECT dv AS qv FROM arrs WHERE vec_id = 3),
        cand AS (
          SELECT a.vec_id,
                 round(list_cosine_similarity(a.dv, qd.qv), 6) AS approx
          FROM arrs a, qd
          ORDER BY approx DESC, a.vec_id
          LIMIT 50),
        qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 3)
        SELECT c.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6)
                 AS cosine_sim
        FROM cand c JOIN embeddings e USING (vec_id), qv
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10
    """, Plan(
    # candidate selection is a bounded TakeOrdered, then re-rank; the one
    # Exchange is the bounds agg's 1-row reduce (as embedding_quantize)
    shuffles=1, must=["TakeOrderedAndProject"], must_not=["SortMergeJoin"],
))
def q_ann_quantized(spark, sf_dir):
    """Quantized-scan ANN + exact re-rank (scalar-quantization FAISS
    pattern): int8 codes from the corpus min-max bounds (1-row broadcast),
    approximate cosine over dequantized codes picks 50 candidates, exact
    float cosine re-ranks to top-10. Query = vec_id 3's embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()["embedding"]
    return ann_quantized_topk(emb, list(qvec), k=10, dim=64, rerank=50)


@GATES.gate("kmeans_embeddings", (
    """
        WITH pts AS (
          SELECT vec_id AS id,
                 list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
        c0 AS (
          SELECT row_number() OVER (ORDER BY id) AS cid,
                 list_transform(v, x -> round(x, 6)) AS c
          FROM (SELECT * FROM pts ORDER BY id LIMIT 8)),
        """
    + "a1 AS (" + _KM_ASSIGN.format(cen="c0") + "),"
    + "c1 AS (" + _KM_UPDATE.format(asg="a1") + "),"
    + "a2 AS (" + _KM_ASSIGN.format(cen="c1") + "),"
    + "c2 AS (" + _KM_UPDATE.format(asg="a2") + "),"
    + "af AS (" + _KM_ASSIGN.format(cen="c2") + ")"
    + """
        SELECT id::BIGINT AS vec_id, cid::BIGINT AS cluster, d AS dist
        FROM af
        """
))
def q_kmeans_embeddings(spark, sf_dir):
    """Deterministic k-means (k=8, 2 Lloyd iterations) over the embedding
    corpus — semantic clustering for curation. Every arbitrary choice is
    pinned (smallest-id init, 6-dp rounding, id tiebreaks) so the DuckDB
    oracle replays the identical trajectory."""
    return kmeans(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


@GATES.gate("embedding_covariance", """
        WITH prs AS (
          SELECT i, j,
                 embedding[i + 1]::DOUBLE AS vi,
                 embedding[j + 1]::DOUBLE AS vj
          FROM embeddings,
               UNNEST(range(0, 64)) AS a(i),
               UNNEST(range(0, 64)) AS b(j)),
        m AS (
          SELECT i, j, sum(vi * vj) AS sxy, sum(vi) AS sx, sum(vj) AS sy,
                 count(*) AS n
          FROM prs GROUP BY 1, 2)
        SELECT i::BIGINT AS i, j::BIGINT AS j,
               round(sxy / n - (sx / n) * (sy / n), 6) + 0.0 AS cov
        FROM m
    """, Plan(
    # partial+final agg on (i, j): reduce input is tasks x dim^2 partials
    shuffles=1, must=["HashAggregate"], must_not=["CartesianProduct", "Window"],
))
def q_embedding_covariance(spark, sf_dir):
    """Distributed covariance matrix of the embedding column as (i, j,
    cov) rows — one corpus pass, map-side-combined dim^2 partials; the
    bounded summary driver-side PCA/whitening consumes."""
    return embedding_covariance(_t(spark, sf_dir, "embeddings"), "embedding", 64)


@GATES.gate("pca_project", f"""
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], {_pca_arrs[0]}), 6)
                 + 0.0 AS pc0,
               round(list_dot_product(embedding::DOUBLE[], {_pca_arrs[1]}), 6)
                 + 0.0 AS pc1
        FROM embeddings
    """, Plan(
    # after the bounded covariance collect, the projection itself is pure
    # codegen: zero shuffles
    shuffles=0, must_not=["Exchange"],
))
def q_pca_project(spark, sf_dir):
    """PCA projection machinery, VALUE-HASHED (r11 — this gate was
    rows-only through r10): the projection y_c = Σ_i (x_i − μ_i)·w_ci
    runs as clustering.pca_project_with's pure Column fold — the exact
    code path the full pca_project drives — with the components pinned
    to deterministic integer literals (dedup.embedding_planes seed 11,
    the proven dedup_embedding oracle recipe) and μ = 0, so DuckDB
    restates every output with list_dot_product. The parts this pins:
    the per-dim fold, literal baking, rounding/−0.0 canonicalization.
    The one non-SQL step, the driver-side numpy eigh (+ data-derived
    μ, sign pinning), stays pytest-verified against the dominant-
    direction + sign-determinism properties (test_round7_ops)."""
    comps = [[float(x) for x in w] for w in embedding_planes(11, 1, 2, 64)[0]]
    return pca_project_with(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        mu=[0.0] * 64, comps=comps, round_dp=6,
    )


@GATES.gate("ann_pq", """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 3),
        cb(sub, code, cv) AS (VALUES
          (0, 0, [0.045163, 0.051693, -0.017145, -0.165156, 0.117993, -0.040475, -0.037632, -0.043981]::DOUBLE[]),
          (0, 1, [-0.059588, -0.052838, 0.028473, -0.035254, -0.073062, -0.070829, -0.090861, 0.019427]::DOUBLE[]),
          (0, 2, [-0.014589, 0.017959, -0.092627, 0.102761, -0.0862, 0.018114, 0.070217, 0.104115]::DOUBLE[]),
          (0, 3, [-0.117582, 0.00175, 0.038428, -0.000628, 0.054825, -0.004655, 0.130162, -0.041825]::DOUBLE[]),
          (0, 4, [-0.019937, -0.002708, 0.044453, -0.002515, -0.030365, -0.195111, 0.158514, 0.135553]::DOUBLE[]),
          (0, 5, [-0.007981, -0.140905, 0.119603, 0.032278, 0.093148, -0.108443, -0.098635, 0.129604]::DOUBLE[]),
          (0, 6, [-0.038788, 0.112689, 0.071369, -0.098733, -0.10773, 0.119855, 0.005533, -0.015107]::DOUBLE[]),
          (0, 7, [0.219392, 0.026907, 0.045803, -0.019973, -0.018763, -0.039156, 0.00754, 0.117037]::DOUBLE[]),
          (0, 8, [-0.091769, -0.19449, 0.038914, 0.025494, -0.01633, 0.138245, -0.147549, 0.003708]::DOUBLE[]),
          (0, 9, [0.096249, -0.133506, -0.020041, 0.008486, 0.000874, 0.117146, -0.013657, -0.066477]::DOUBLE[]),
          (0, 10, [0.087266, -0.003994, -0.188806, -0.001947, -0.0214, 0.038331, -0.000449, -0.091243]::DOUBLE[]),
          (0, 11, [-0.088048, 0.018283, -0.057008, 0.040623, 0.048264, 0.034509, -0.148572, -0.163555]::DOUBLE[]),
          (0, 12, [0.002621, 0.009807, 0.100708, 0.002968, 0.146993, 0.200018, -0.14577, -0.007396]::DOUBLE[]),
          (0, 13, [0.071935, 0.040438, 0.051902, 0.151352, 0.059319, -0.008038, -0.052857, -0.016027]::DOUBLE[]),
          (0, 14, [-0.005931, -0.035537, -0.048583, -0.083841, 0.093932, 0.027132, -0.081071, 0.134566]::DOUBLE[]),
          (0, 15, [-0.074849, 0.045565, 0.018363, 0.027941, -0.154426, -0.202306, -0.052982, -0.099566]::DOUBLE[]),
          (1, 0, [0.159174, 0.016023, -0.018135, 0.027226, -0.144035, -0.035348, -0.018012, -0.039699]::DOUBLE[]),
          (1, 1, [-0.080465, 0.097243, -0.103576, 0.110692, 0.094968, -0.085683, 0.069614, -0.043844]::DOUBLE[]),
          (1, 2, [-0.096486, -0.142131, 0.012893, 0.021726, -0.085308, 0.076833, 0.026971, 0.108589]::DOUBLE[]),
          (1, 3, [-0.091162, 0.019311, -0.064848, 0.07181, 0.0598, 0.226188, 0.002426, 0.007008]::DOUBLE[]),
          (1, 4, [-0.022211, 0.148408, 0.141847, 0.00136, -0.001299, 0.00947, 0.126388, -0.077229]::DOUBLE[]),
          (1, 5, [-0.104092, 0.056581, 0.119458, 0.095291, -0.011062, -0.043141, -0.110995, -0.01544]::DOUBLE[]),
          (1, 6, [0.055613, 0.276148, 0.108941, 0.01649, -0.041711, 0.162609, -0.060319, -0.024536]::DOUBLE[]),
          (1, 7, [-0.086627, -0.111327, 0.043084, -0.030571, -0.113693, -0.035418, 0.069326, -0.14234]::DOUBLE[]),
          (1, 8, [-0.010646, 0.083854, -0.099391, 0.059565, 0.026427, 0.010372, -0.049581, 0.160429]::DOUBLE[]),
          (1, 9, [-0.063136, 0.063525, -0.039907, -0.076115, -0.143704, -0.004289, -0.119117, -0.030429]::DOUBLE[]),
          (1, 10, [0.041558, -0.072501, -0.042476, -0.080439, 0.04957, -0.126468, 0.00506, -0.015189]::DOUBLE[]),
          (1, 11, [0.040028, 0.038315, 0.09236, -0.118322, 0.093721, 0.058519, -0.094338, 0.040048]::DOUBLE[]),
          (1, 12, [0.085265, -0.079446, 0.042481, 0.032569, 0.06338, 0.053649, 0.101263, 0.093984]::DOUBLE[]),
          (1, 13, [-0.019046, -0.049919, 0.171414, -0.120922, 0.041702, -0.212304, -0.048005, 0.054231]::DOUBLE[]),
          (1, 14, [0.108785, 0.144023, -0.062737, -0.016277, 0.099098, -0.088644, 0.201485, -0.027838]::DOUBLE[]),
          (1, 15, [-0.032899, -0.158769, -0.040219, 0.025979, -0.009335, 0.078809, -0.074704, -0.149574]::DOUBLE[]),
          (2, 0, [0.020152, 0.054868, -0.030259, 0.112194, -0.1521, -0.053761, 0.045582, -0.107816]::DOUBLE[]),
          (2, 1, [-0.024136, 0.01116, 0.067419, -0.15294, 0.055658, 0.170845, 0.074393, -0.086117]::DOUBLE[]),
          (2, 2, [-0.183612, 0.016776, -0.095358, -0.210844, 0.186597, 0.044497, 0.218238, -0.073167]::DOUBLE[]),
          (2, 3, [0.019165, -0.055185, -0.058031, 0.103562, 0.067296, -0.011294, -0.04262, 0.01133]::DOUBLE[]),
          (2, 4, [0.036857, 0.187713, 0.006315, -0.039389, 0.010322, 0.066266, -0.064075, 0.005672]::DOUBLE[]),
          (2, 5, [0.21364, -0.049521, -0.025173, 0.037674, -0.06337, -0.127776, 0.07022, 0.189365]::DOUBLE[]),
          (2, 6, [-0.036816, 0.160054, -0.101022, -0.076051, 0.044669, -0.132386, -0.0199, -0.039474]::DOUBLE[]),
          (2, 7, [0.068608, 0.027188, -0.118364, 0.076303, -0.031036, 0.097779, 0.085295, -0.015428]::DOUBLE[]),
          (2, 8, [0.067561, -0.040104, 0.138206, 0.031813, 0.082701, -0.046219, 0.096423, -0.034658]::DOUBLE[]),
          (2, 9, [0.002231, 0.080627, 0.06133, -0.108895, -7.4e-05, 0.02273, 0.115234, 0.235671]::DOUBLE[]),
          (2, 10, [0.012381, 0.090323, 0.082384, -0.080549, -0.148108, 0.051593, 0.015967, -0.000604]::DOUBLE[]),
          (2, 11, [0.147801, 0.003498, -0.02974, -0.105028, -0.05651, -0.106066, 0.110341, -0.071939]::DOUBLE[]),
          (2, 12, [-0.067414, -0.129424, -0.098109, -0.074061, -0.034833, 0.07488, 0.001106, -0.010086]::DOUBLE[]),
          (2, 13, [0.03844, 0.053944, 0.078227, -0.046232, 0.138396, 0.003353, -0.012852, -0.246033]::DOUBLE[]),
          (2, 14, [0.014574, -0.074672, 0.098713, 0.007734, 0.014693, -0.063645, -0.128717, 0.085714]::DOUBLE[]),
          (2, 15, [-0.164269, 0.045705, 0.040084, 0.050452, -0.030679, -0.062406, -0.004266, -0.014364]::DOUBLE[]),
          (3, 0, [0.032555, 0.182784, 0.134476, 0.009743, 0.022164, 0.076943, -0.004346, 0.183094]::DOUBLE[]),
          (3, 1, [0.096414, 0.086441, -0.08791, -0.014928, -0.005973, 0.171653, -0.088402, 0.057738]::DOUBLE[]),
          (3, 2, [-0.012511, -0.064251, -0.058717, -0.058097, 0.031628, 0.105536, -0.057279, -0.118697]::DOUBLE[]),
          (3, 3, [-0.072934, -0.023083, 0.017204, -0.116403, -0.132828, -0.051052, -0.064267, 0.025659]::DOUBLE[]),
          (3, 4, [-0.005932, -0.089646, 0.157687, -0.048732, 0.086637, 0.009898, 0.114181, 0.032673]::DOUBLE[]),
          (3, 5, [0.152332, 0.06472, -0.005011, -0.058964, 0.063525, 0.07364, 0.094475, -0.111147]::DOUBLE[]),
          (3, 6, [-0.050013, -0.120467, 0.022126, 0.100977, 0.051807, -0.006545, 0.023295, -0.052052]::DOUBLE[]),
          (3, 7, [0.042875, -0.082864, -0.105796, 0.036477, -0.043575, 0.081172, 0.136989, 0.10891]::DOUBLE[]),
          (3, 8, [-0.099546, 0.15767, -0.026785, 0.064883, 0.045162, -0.296227, 0.016597, -0.072797]::DOUBLE[]),
          (3, 9, [-0.02627, -0.049602, -0.093513, 0.069501, -0.07468, -0.119671, 0.030189, -0.144782]::DOUBLE[]),
          (3, 10, [0.08728, 0.105804, -0.133454, 0.164228, -0.088224, 0.02088, -0.110751, -0.020635]::DOUBLE[]),
          (3, 11, [0.095821, 0.095403, 0.06197, 0.046098, -0.106678, -0.010978, -0.037742, 0.03565]::DOUBLE[]),
          (3, 12, [-0.058536, 0.229083, -0.070495, 0.034683, 0.005713, -0.081875, 0.092452, -0.106902]::DOUBLE[]),
          (3, 13, [0.04226, -0.004416, 0.044282, 0.022239, 0.083869, -0.11788, -0.065276, 0.066689]::DOUBLE[]),
          (3, 14, [-0.169424, 0.057267, -0.032484, -0.012767, 0.052087, 0.084848, -0.063872, 0.046164]::DOUBLE[]),
          (3, 15, [-0.047828, 0.034079, 0.000612, 0.013166, -0.125595, -0.055979, 0.160684, -0.045907]::DOUBLE[]),
          (4, 0, [-0.161225, -0.167822, -0.007776, 0.069895, -0.014678, -0.013155, 0.007091, 0.04567]::DOUBLE[]),
          (4, 1, [0.003445, -0.066469, -0.051948, 0.067878, -0.062483, -0.074901, 0.063553, -0.161744]::DOUBLE[]),
          (4, 2, [0.029718, -0.018823, -0.092877, 0.115999, 0.077186, 0.080044, 0.078697, 0.037481]::DOUBLE[]),
          (4, 3, [0.182234, 0.00629, -0.05919, -0.050966, 0.016103, -0.054181, 0.030629, -0.085635]::DOUBLE[]),
          (4, 4, [-0.12072, 0.020704, 0.000729, -0.095137, -0.087541, 0.038687, -0.059715, -0.076825]::DOUBLE[]),
          (4, 5, [-0.012578, -0.037984, -0.002184, 0.119769, -0.014946, 0.082395, -0.138403, 0.007366]::DOUBLE[]),
          (4, 6, [-0.120031, -0.104255, -0.065619, 0.025945, 0.195671, 0.115973, -0.001223, 0.071403]::DOUBLE[]),
          (4, 7, [-0.049221, -0.058693, -0.04563, -0.029617, -0.044145, -0.142837, 0.052339, 0.136573]::DOUBLE[]),
          (4, 8, [-0.020069, -0.035258, 0.11974, -0.037674, 0.068428, -0.003577, 0.117817, -0.045307]::DOUBLE[]),
          (4, 9, [-0.048838, -0.017536, 0.143576, 0.09334, -0.278038, -0.071572, 0.126046, 0.043009]::DOUBLE[]),
          (4, 10, [0.159866, -0.111121, 0.062086, 0.011501, 0.07922, 0.033423, -0.000879, 0.075377]::DOUBLE[]),
          (4, 11, [0.049678, -0.081506, -0.030034, -0.072662, 0.036142, -0.089224, -0.140467, 0.045558]::DOUBLE[]),
          (4, 12, [-0.017756, 0.112808, -0.033387, -0.058803, -0.060619, 0.044396, -0.024261, 0.153251]::DOUBLE[]),
          (4, 13, [0.096602, 0.106157, 0.074175, 0.017079, -0.026523, 0.141063, 0.027943, -0.008675]::DOUBLE[]),
          (4, 14, [0.046795, 0.171599, 0.036238, 0.02457, 0.084945, -0.137463, -0.0848, -0.044704]::DOUBLE[]),
          (4, 15, [0.076088, 0.021766, 0.055662, -0.155782, -0.109716, -0.136248, 0.103875, -0.02687]::DOUBLE[]),
          (5, 0, [-0.000824, 0.02298, -0.07459, 0.030158, -0.001476, 0.139994, 0.062582, -0.089074]::DOUBLE[]),
          (5, 1, [0.029836, -0.073495, 0.169243, 0.023932, 0.060351, 0.026953, -0.01903, -0.147164]::DOUBLE[]),
          (5, 2, [-0.031194, 0.021616, 0.140947, 0.025861, -0.148506, 0.058349, -0.078641, -0.053856]::DOUBLE[]),
          (5, 3, [-0.070792, -0.107026, -0.121588, 0.06026, 0.061068, 0.050287, -0.081153, -0.035201]::DOUBLE[]),
          (5, 4, [0.000624, 0.001753, -0.172587, -0.063322, 0.006796, 0.040948, -0.125527, 0.145937]::DOUBLE[]),
          (5, 5, [-0.096016, 0.092529, -0.115732, 0.031205, -0.14134, -0.051171, 0.061154, 0.003835]::DOUBLE[]),
          (5, 6, [0.132987, -0.083187, -0.017599, -0.1002, 0.023577, 0.057959, 0.071621, 0.091602]::DOUBLE[]),
          (5, 7, [-0.088208, -0.103605, 0.033909, 0.070717, -0.011394, 0.047475, 0.014107, 0.130707]::DOUBLE[]),
          (5, 8, [-0.039571, -0.084956, -0.054349, 0.018068, 0.078742, -0.105997, 0.089216, -0.073392]::DOUBLE[]),
          (5, 9, [0.127289, 0.035675, 0.092555, 0.108045, -0.125378, 0.015832, 0.053367, -0.067189]::DOUBLE[]),
          (5, 10, [-0.04042, -0.217913, -0.062856, -0.09502, -0.071568, -0.046224, -0.001162, -0.102987]::DOUBLE[]),
          (5, 11, [0.101268, 0.007234, -0.005995, -0.1192, 0.047311, -0.059734, -0.124169, -0.014646]::DOUBLE[]),
          (5, 12, [0.066615, 0.04387, -0.045768, 0.142651, 0.035283, -0.046501, -0.048098, 0.073965]::DOUBLE[]),
          (5, 13, [-0.072903, -0.029299, -0.030606, -0.160536, -0.163619, 0.035228, -0.091768, 0.031453]::DOUBLE[]),
          (5, 14, [0.000791, 0.085871, 0.089998, -0.073091, -0.033261, -0.179057, 0.074376, 0.029624]::DOUBLE[]),
          (5, 15, [-0.075826, 0.170278, 0.027134, -0.066076, 0.071276, -0.026979, 0.020049, 0.062923]::DOUBLE[]),
          (6, 0, [0.043428, -0.136518, -0.021342, 0.146104, 0.071554, -0.093973, 0.056246, -0.018839]::DOUBLE[]),
          (6, 1, [-0.033879, -0.19113, 0.032392, 0.001865, 0.000762, 0.102411, 0.005148, 0.124993]::DOUBLE[]),
          (6, 2, [0.08776, -0.00449, 0.116994, -0.087882, -0.008073, -0.088383, 0.10952, 0.193123]::DOUBLE[]),
          (6, 3, [0.262816, -0.208525, 0.003365, -0.053756, 0.005514, 0.103206, -0.091905, 0.010293]::DOUBLE[]),
          (6, 4, [-0.053924, -0.030688, 0.043328, 0.047928, 0.031028, 0.124371, 0.094308, -0.021284]::DOUBLE[]),
          (6, 5, [0.0232, -0.00202, 0.126017, 0.03536, -0.021745, 0.067423, -0.134732, -0.17931]::DOUBLE[]),
          (6, 6, [0.025606, 0.006466, -0.115925, 0.102496, -0.00658, -0.02273, -0.040371, 0.137985]::DOUBLE[]),
          (6, 7, [-0.030302, -0.014929, 0.138228, 0.055226, 0.028182, -0.080503, -0.07582, 0.101245]::DOUBLE[]),
          (6, 8, [-0.145345, -0.004361, 0.008597, 0.053478, -0.129425, 0.097943, -0.07793, -0.129485]::DOUBLE[]),
          (6, 9, [0.0548, -0.05473, 0.041289, -0.127844, -0.115814, 0.027329, -0.002108, 0.032424]::DOUBLE[]),
          (6, 10, [0.077303, 0.116641, 0.071986, -0.041751, 0.116438, -0.011894, 0.008827, -0.01782]::DOUBLE[]),
          (6, 11, [0.108165, 0.070555, -0.119275, -0.123674, -0.001853, 0.055286, 0.068419, -0.015543]::DOUBLE[]),
          (6, 12, [-0.142502, 0.065165, -0.017106, -0.02458, 0.155214, -0.002678, -0.072204, -0.024003]::DOUBLE[]),
          (6, 13, [-0.136899, -0.095238, -0.091288, -0.043934, -0.044853, -0.045886, -0.024023, -0.006638]::DOUBLE[]),
          (6, 14, [-0.061295, 0.031828, 0.05412, 0.055468, -0.003928, -0.118577, 0.099903, -0.009236]::DOUBLE[]),
          (6, 15, [0.047019, 0.048797, -0.046222, -0.040536, -0.064304, -0.118802, -0.025678, -0.155739]::DOUBLE[]),
          (7, 0, [-0.03784, -0.095765, -0.118162, -0.077438, -0.073108, -0.023202, 0.085988, -0.179284]::DOUBLE[]),
          (7, 1, [0.038913, -0.075468, -0.00628, 0.099357, -0.098391, 0.048393, -0.089241, -0.069139]::DOUBLE[]),
          (7, 2, [0.058743, -0.101224, -0.003425, 0.103186, 0.032882, 0.151173, 0.07216, 0.006067]::DOUBLE[]),
          (7, 3, [-0.082874, -0.061943, -0.0285, -0.10563, 0.10328, -0.055198, -0.026043, -0.081326]::DOUBLE[]),
          (7, 4, [0.09992, -0.14632, -0.024953, -0.06227, -0.024341, -0.002627, 0.088512, 0.098668]::DOUBLE[]),
          (7, 5, [-0.085347, 0.039583, 0.001187, 0.012129, -0.134985, 0.054315, -0.017482, 0.108326]::DOUBLE[]),
          (7, 6, [-0.101628, 0.073497, -0.005646, 0.017394, 0.065937, 0.024527, 0.156258, 0.003863]::DOUBLE[]),
          (7, 7, [0.019712, 0.118951, -0.186699, -0.087358, 0.059502, 0.047948, -0.060181, -0.094821]::DOUBLE[]),
          (7, 8, [-0.065036, 0.073705, 0.081782, -0.128962, -0.083681, -0.091883, 0.027408, 0.018581]::DOUBLE[]),
          (7, 9, [0.046691, 0.002166, 0.033073, -0.128386, 0.012302, 0.10283, 0.003626, -0.009243]::DOUBLE[]),
          (7, 10, [0.138735, 0.063432, 0.023642, 0.033912, 0.116973, -0.118567, -0.052916, 0.058183]::DOUBLE[]),
          (7, 11, [-0.029716, 0.107597, -0.104344, 0.016429, 0.14113, 0.026389, -0.059245, 0.184372]::DOUBLE[]),
          (7, 12, [0.016333, -0.105773, 0.148305, -0.008466, 0.125301, 0.058899, -0.131053, -0.084354]::DOUBLE[]),
          (7, 13, [-0.130458, 0.040737, 0.029273, 0.140264, 0.055548, -0.00754, -0.135649, -0.007175]::DOUBLE[]),
          (7, 14, [-0.007096, 0.011957, -0.184939, 0.097762, -0.009725, -0.097906, 0.083208, 0.004459]::DOUBLE[]),
          (7, 15, [0.06872, 0.068574, 0.108717, 0.067779, -0.087243, -0.034892, -0.048132, -0.103556]::DOUBLE[])),
        coarse(cid, cv) AS (VALUES
          (0, [0.021933, -0.001037, 0.013345, -0.033496, 0.027499, -0.003346, -0.022352, 0.004196, 0.046226, -0.003135, 0.016345, -0.017812, -0.024263, -0.018513, -0.010161, -0.002877, 0.010921, 0.019493, 0.011042, 0.036423, -0.044163, -0.014547, 0.011965, -0.025447, -0.023597, 0.037825, 0.018171, 0.01741, 0.005276, 0.021406, 0.021127, 0.048025, -0.012726, -0.023847, 0.019151, -0.005393, -0.020975, 0.007919, -0.009024, 0.025321, 0.006062, -0.004184, -0.003176, -8.5e-05, -0.007594, 0.026398, 0.0229, 0.003842, -0.019782, 0.000392, -0.007415, 0.026475, 0.019039, -0.036693, 0.021726, -0.006831, 0.002645, 0.00746, -0.040996, -0.034477, -0.014392, 0.003549, 0.010083, -0.040663]::DOUBLE[]),
          (1, [-0.025136, -0.020336, 0.015826, -0.003518, -0.009237, 0.011969, -0.050855, 0.020489, -0.019358, 0.038429, -0.014827, 0.019563, 0.040506, -0.047926, 0.017611, -0.007927, 0.014973, -0.007443, 0.013789, -0.028073, 0.01055, 0.037853, -0.00379, -0.019158, 0.022301, 0.037117, -0.014703, 0.027288, -0.000924, 0.01654, -0.009615, 0.001739, -0.016546, -0.005482, 0.008024, 0.009654, -0.027045, -0.039757, 0.004805, -0.052073, -0.010328, -0.026634, 0.032565, 0.004389, 0.001318, -0.008574, -0.016338, 0.001703, -0.060444, -0.043393, 0.009326, 0.005486, -0.001843, 0.031069, -0.003813, 0.010774, 0.010146, -0.009389, 0.01271, 0.01601, -0.03019, 0.002699, -0.031239, -0.019703]::DOUBLE[]),
          (2, [0.025586, 0.000117, -0.018787, 0.021, 0.011351, 0.017209, -0.013097, 0.011097, -0.009938, -0.058347, 0.014613, -0.011928, -0.039754, 0.01617, -0.008271, 0.019563, -0.012685, 0.026526, -0.02489, -0.034083, 0.010488, 0.006921, 0.031428, -0.002224, 0.005069, -0.0358, -0.023119, 0.009753, 0.020926, 0.004468, 0.004977, -0.05434, 5.2e-05, -0.003382, -0.001287, 0.006697, 0.00535, 0.036149, 0.019075, 0.034642, 0.006627, -0.00032, 0.032194, 0.000133, -0.03894, 0.0069, 0.007654, 0.018935, 0.02168, 0.028249, 0.032083, -0.01724, 0.002909, -0.02078, 0.028306, 0.012597, 0.016665, -0.020145, 0.002245, 0.023937, 0.028779, 0.016693, 0.018939, 0.036149]::DOUBLE[]),
          (3, [-0.018136, 0.001886, 0.006297, -0.001975, 0.007692, 0.005875, 0.012369, 0.001834, -0.031528, 0.025939, 0.007387, 0.027237, 0.018897, 0.057939, 0.002072, 0.014393, 0.000818, -0.018435, -0.000842, 0.028536, 0.011297, -0.018478, -0.025769, 0.015583, -0.008845, 0.013628, 0.012291, -0.012009, -0.03198, -0.042672, 0.003929, -0.020473, 0.064375, 0.007534, -0.006133, -0.005683, 0.021455, -0.015387, -0.019058, -0.019128, -0.010948, -0.018208, -0.061025, -0.00662, 0.000982, -0.012245, -0.020004, -0.001717, 0.041582, -0.031003, 0.003678, -0.022149, 0.009861, 0.016255, -0.03091, -0.031121, -0.010758, 0.012148, 0.010359, -0.039142, 0.013167, -0.003628, -0.005858, -0.029611]::DOUBLE[])),
        cells AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                 (max(struct_pack(
                    s := round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                      c.cv), 6),
                    c := c.cid))).c AS cell
          FROM embeddings e, coarse c
          GROUP BY e.vec_id, e.embedding),
        probes AS (
          SELECT cid FROM (
            SELECT c.cid, row_number() OVER (
              ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                       c.cid DESC) AS rn
            FROM coarse c, q) WHERE rn <= 2),
        enc AS (
          SELECT s.vec_id, s.v, b.sub,
                 (min(struct_pack(
                    d := CAST(round(list_sum(list_transform(
                           generate_series(1, 8),
                           i -> (s.v[b.sub * 8 + i] - b.cv[i])
                              * (s.v[b.sub * 8 + i] - b.cv[i])))
                         * 1000000, 0) AS BIGINT),
                    c := b.code))).c AS code
          FROM (SELECT vec_id, v FROM cells
                WHERE cell IN (SELECT cid FROM probes)) s, cb b
          GROUP BY s.vec_id, s.v, b.sub),
        adc AS (
          SELECT e.vec_id, e.v,
                 sum(CAST(round(list_sum(list_transform(
                       generate_series(1, 8),
                       i -> (q.qv[b.sub * 8 + i] - b.cv[i])
                          * (q.qv[b.sub * 8 + i] - b.cv[i])))
                     * 1000000, 0) AS BIGINT))::BIGINT AS d
          FROM enc e JOIN cb b ON b.sub = e.sub AND b.code = e.code, q
          GROUP BY e.vec_id, e.v),
        cand AS (SELECT vec_id, v FROM adc ORDER BY d ASC, vec_id LIMIT 50)
        SELECT c.vec_id,
               round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
        FROM cand c, q
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10
    """, Plan(
    # IVF-PQ: the pinned-literal cell prune is a map-side Filter on the
    # scan, encode + ADC are pure codegen, both cuts are TakeOrdered —
    # zero shuffles end to end
    shuffles=0,
    must=["TakeOrderedAndProject"],
    must_not=["Exchange", "SortMergeJoin", "CartesianProduct"],
))
def q_ann_pq(spark, sf_dir):
    """IVF-PQ ANN (FAISS IVFPQ; Jegou et al. 2011): coarse Voronoi prune
    (4 pinned cells, nprobe=2) -> asymmetric-distance scan over 8-byte
    PQ codes (8 subspaces x 16-centroid codebooks, per-sub distances as
    exact e6 fixed-point longs so the cross-sub sum is
    reassociation-free) -> exact cosine re-rank of the top-50. The
    codebooks and coarse centroids are pinned literals (trained once,
    deterministically — header comment above _ANN_PQ_CODEBOOKS), so the
    DuckDB oracle restates pure distance arithmetic: encode argmin,
    table lookup, ranked cuts. Recall vs brute force is asserted in
    tests/test_round12_ops.py; the 100 TB serving shape (materialized
    int8 codes + cell-partitioned store) is exercised there via
    code_col= and pq_encode_expr."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()["embedding"]
    return ann_pq_topk(
        emb, list(qvec), _ANN_PQ_CODEBOOKS, k=10, rerank=50,
        coarse_centroids=_ANN_PQ_COARSE, nprobe=2,
    )
